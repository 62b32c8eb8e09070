"""Output checks, run after the timed regions.

* MapReduce word count: every output directory must hold exactly
  ``part-00000 .. part-{R-1}``; each file is sorted by key, and word ``w``
  sits in the file ``int(md5(w)) % R`` (computed here, independently of
  the program); the counts equal the generator's.
* Queries: each query's check-pass output is compared with its DuckDB
  twin from ``SparkEntry.oracleSql`` over the same generated tables:
  column names, row count, and every value after sorting (the rule of the
  repo's oracle gate).
"""
import hashlib
import os

import duckdb


TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents"]


def md5_partition(key, r):
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % r


def check_wordcount(out_dir, reducers, expected):
    """Error message, or None when ``out_dir`` holds the right output."""
    names = sorted(os.listdir(out_dir))
    want = [f"part-{i:05d}" for i in range(reducers)]
    if names != want:
        return f"output files {names[:6]} are not {want[:6]}"
    got = {}
    for i, name in enumerate(names):
        keys = []
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            for line in fh:
                word, _, n = line.rstrip("\n").partition("\t")
                if md5_partition(word, reducers) != i:
                    return f"{word!r} in {name}, md5 places it in part {md5_partition(word, reducers)}"
                if word in got:
                    return f"{word!r} appears twice"
                got[word] = int(n)
                keys.append(word)
        if keys != sorted(keys):
            return f"{name} is not sorted by key"
    if got != expected:
        diff = sorted(set(got.items()) ^ set(expected.items()))[:3]
        return f"counts differ from the generator's, e.g. {diff}"
    return None


def read_expected(path):
    out = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            w, n = line.rstrip("\n").split("\t")
            out[w] = int(n)
    return out


def _nested(rel):
    return [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
            if any(k in str(t).upper() for k in ("[]", "STRUCT", "MAP", "LIST"))]


def _rows(con, sql, cols):
    q = "SELECT " + ",".join(f'"{c}"' for c in cols) + f" FROM ({sql}) q"
    return sorted(tuple(str(v) for v in r) for r in con.sql(q).fetchall())


def check_queries(tables_dir, facts, names):
    """{query: error} for each of ``names`` whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    errors = {}
    for name in names:
        out = os.path.join(facts["check_dir"], name)
        sql = facts["oracles"].get(name)
        try:
            spark = con.sql(f"SELECT * FROM '{out}/*.parquet'")
            if _nested(spark):
                errors[name] = f"nested output columns {_nested(spark)}"
                continue
            if sql is None:
                # no DuckDB twin: the repo's gate requires a non-empty result
                if not spark.fetchall():
                    errors[name] = "empty result and no oracle"
                continue
            for orig, local in facts["exports"].items():
                sql = sql.replace(orig, local)
            cols = sorted(spark.columns)
            duck_cols = sorted(con.sql(sql).columns)
            if cols != duck_cols:
                errors[name] = f"columns {cols} != oracle {duck_cols}"
                continue
            a = _rows(con, f"SELECT * FROM '{out}/*.parquet'", cols)
            b = _rows(con, sql, cols)
            if len(a) != len(b):
                errors[name] = f"{len(a)} rows, oracle has {len(b)}"
            elif a != b:
                i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
                errors[name] = f"sorted row {i}: {a[i]} != oracle {b[i]}"
        except Exception as e:  # a missing output or a failing oracle
            errors[name] = f"check failed: {str(e).splitlines()[0][:200]}"
    con.close()
    return errors
