"""Seeded input generators for the benchmark.

Everything the program reads is made here from the run's seed; the same
seed gives byte-identical files. Two families:

* ``tables``: the TPC-H-ish fixture star schema plus ``events`` and
  ``documents`` (the columns, types and value domains of the repo's
  parquet fixtures, see FIXTURES.md), one single-row-group parquet file
  per table, written at a scale factor ``sf``.
* ``corpus``: the ``mr_wordcount`` text inputs. One Zipf-distributed
  token stream is written twice, as a few large files and as many small
  files, so both inputs hold the same words and sizes. The hottest words
  make the MD5 reduce partitions uneven. The expected per-word counts
  go to a separate file that the program never sees.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check

_DOC_WORDS = ("a the key row scan agg table value part hash merge batch "
              "spark order data column join small line customer query big "
              "stream window sort filter group fast slow sql shuffle").split()


def _table_sql(sf):
    """name -> SELECT over ``range`` producing the table.

    ``r(i, k)`` is a seeded 64-bit hash of the row number and a per-column
    salt; every random column is a function of it, so the output does not
    depend on DuckDB's thread count or scheduling.
    """
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_doc = max(1, int(50_000 * sf))
    adjectives = "['red','small','hot','old','large','blue','cold','new']"
    nouns = "['plate','widget','ring','rod','gear','bolt','pipe','valve']"
    docw = "[" + ",".join(f"'{w}'" for w in _DOC_WORDS) + "]"
    u = "((r(i, {k}) % 1000000) / 1000000.0)"  # uniform [0, 1)
    return {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (r(i, 1) % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            (r(i, 2) % 25)::INTEGER AS c_nationkey,
            round(-999.99 + {u.format(k=3)} * 10999.98, 2) AS c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
              [1 + r(i, 4) % 5] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            (r(i, 5) % 25)::INTEGER AS s_nationkey,
            round(-999.99 + {u.format(k=6)} * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {adjectives}[1 + r(i, 7) % 8] || ' ' || {nouns}[1 + r(i, 8) % 8]
              AS p_name,
            'Brand#' || (1 + r(i, 9) % 25) AS p_brand,
            ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']
              [1 + r(i, 10) % 6] AS p_type,
            (1 + r(i, 11) % 50)::INTEGER AS p_size,
            round(900 + (r(i, 12) % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
            (r(i, 13) % {n_cust})::BIGINT AS o_custkey,
            ['F','O','P'][1 + r(i, 14) % 3] AS o_orderstatus,
            round(1000 + {u.format(k=15)} * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days((r(i, 16) % 2400)::INTEGER)
              AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
              [1 + r(i, 17) % 5] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        # 1..7 lines per order (4 on average), like the fixture
        "lineitem": f"""SELECT o AS l_orderkey,
            (r(i, 20) % {n_part})::BIGINT AS l_partkey,
            (r(i, 21) % {n_supp})::BIGINT AS l_suppkey,
            ln::INTEGER AS l_linenumber,
            (1 + r(i, 22) % 50)::DOUBLE AS l_quantity,
            round((1 + r(i, 22) % 50) * (900 + (r(i, 23) % 120000) / 100.0) / 1.2,
                  2) AS l_extendedprice,
            (r(i, 24) % 11) / 100.0 AS l_discount,
            (r(i, 25) % 9) / 100.0 AS l_tax,
            ['A','N','R'][1 + r(i, 26) % 3] AS l_returnflag,
            ['F','O'][1 + r(i, 27) % 2] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days((r(i, 28) % 2500)::INTEGER)
              AS l_shipdate
            FROM (SELECT o::BIGINT AS o, ln, o * 8 + ln AS i
                  FROM range({n_ord}) a(o), range(1, 8) b(ln)
                  WHERE ln <= 1 + r(o, 19) % 7)
            ORDER BY l_orderkey, l_linenumber""",
        "events": f"""SELECT i::BIGINT AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              (r(i, 30) % 2592000000000)::BIGINT) AS ts,
            (r(i, 31) % {n_users})::BIGINT AS user_id,
            ['click','error','purchase','signup','view'][1 + r(i, 32) % 5]
              AS event_type,
            round(0.01 + {u.format(k=33)} * 490, 2) AS value,
            '{{"k": ' || (r(i, 34) % 100) || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "documents": f"""SELECT doc_id, text,
            CASE WHEN r(doc_id, 40) % 100 < 44 THEN 'en'
                 ELSE ['zh','es','de','fr'][1 + r(doc_id, 41) % 4] END AS lang,
            'src' || (doc_id % 20) AS source,
            length(text)::BIGINT AS n_chars
            FROM (SELECT i::BIGINT AS doc_id, array_to_string(list_transform(
                    range(8 + (r(i, 42) % 83)::BIGINT),
                    j -> {docw}[1 + r(i * 1000 + j, 43) % {len(_DOC_WORDS)}]),
                    ' ') AS text
                  FROM range({n_doc}) t(i))""",
    }


def gen_tables(out_dir, seed, sf):
    """Write every fixture table for ``seed`` at scale ``sf`` to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"CREATE MACRO r(i, k) AS (hash(i, k, {int(seed)}) >> 1)::BIGINT")
    for name, sql in _table_sql(sf).items():
        t = con.sql(sql).arrow()
        if isinstance(t, pa.RecordBatchReader):
            t = t.read_all()
        # one row group per file, like the fixtures
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    con.close()


def _vocabulary(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 11))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def gen_corpus(out_dir, seed, mb, reducers, n_large=4, n_small=256,
               vocab=20_000, zipf_s=1.1, words_per_line=12, n_hot=3):
    """Write ``large/`` and ``small/`` inputs of ~``mb`` MB each.

    The ``n_hot`` most frequent words (about a fifth of all tokens) all
    hash to MD5 reduce partition 0 of ``reducers``, so every seed skews the
    reduce side the same way; the rest of the rank order is a seeded
    shuffle. Returns {word: count} for ONE input (both hold the same
    words) and writes it to ``expected.tsv``.
    """
    rng = np.random.default_rng(int(seed))
    words = list(rng.permutation(_vocabulary(rng, vocab)))
    hot = [w for w in words if check.md5_partition(w, reducers) == 0][:n_hot]
    words = np.array(hot + [w for w in words if w not in hot])
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    # mean word length under p, plus the separator
    mean_len = float((np.char.str_len(words) + 1) @ p)
    n_tokens = int(mb * 1e6 / mean_len)
    ids = rng.choice(vocab, size=n_tokens, p=p)
    counts = np.bincount(ids, minlength=vocab)
    n_lines = max(1, n_tokens // words_per_line)
    lines = [" ".join(words[chunk]) for chunk in np.array_split(ids, n_lines)]
    for kind, n_files in (("large", n_large), ("small", n_small)):
        d = os.path.join(out_dir, kind)
        os.makedirs(d, exist_ok=True)
        for f, part in enumerate(np.array_split(np.arange(len(lines)), n_files)):
            with open(os.path.join(d, f"file{f:04d}"), "w") as fh:
                fh.write("".join(lines[i] + "\n" for i in part))
    expected = {str(words[k]): int(c) for k, c in enumerate(counts) if c}
    with open(os.path.join(out_dir, "expected.tsv"), "w") as fh:
        for w in sorted(expected):
            fh.write(f"{w}\t{expected[w]}\n")
    return expected
