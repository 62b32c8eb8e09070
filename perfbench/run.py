#!/usr/bin/env python3
"""Benchmark: builds the program, generates seeded inputs, runs one
workload in the harness JVM, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness with sbt (the root build and perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. All files it makes stay in
the checkout: .bench_build/ (build state), .bench_work/ (inputs and
scratch of the current run, removed at exit) and .bench_out/ (one JSON
record per run in records.jsonl, and the spans of traced runs).

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics of a second, traced timed region with --trace 1). The lines
before it print every metric by name and unit, the extras that apply to
the workload only, and any output that failed its check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

# Per workload: input size (a table scale factor, or MB per corpus input),
# warm-up passes, and the nominal length of one warm pass on a 4-core box:
# a run measures ceil(seconds / pass_s) whole passes.
WORKLOADS = {
    "mr_wordcount": {"corpus_mb": 4, "warm": 4, "pass_s": 4},
    "sql_short": {"sf": 0.01, "warm": 3, "pass_s": 4},
}
# local[N]: at most 4 cores, one client thread
MAX_CPUS = 4
HEAP = "3g"
# a run must end within 180 s; keep a margin for the checks
JVM_DEADLINE_S = 165

SOURCES = ["build.sbt", "project", "src/main", "src/test/resources/mr/exec",
           "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if not {"target", "project"} & set(
                os.path.relpath(d, p).split(os.sep)))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile the program and the harness unless the sources are unchanged."""
    stamp_file = os.path.join(BUILD, "stamp")
    launch = os.path.join(BUILD, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(launch) as lf:
            classpath = lf.readline().strip().split(os.pathsep)
            if fh.read() == stamp and all(map(os.path.exists, classpath)):
                return launch
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(launch):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"build failed (exit {rc}), see {log}:\n{tail}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def commit_id(stamp):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "src-" + stamp[:12]


def cpu_stat():
    """(total, steal) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[7]
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(launch, args, cfg, run_dir, data, cpus, deadline):
    with open(launch) as fh:
        lines = [x for x in fh.read().splitlines() if x]
    cp, opts = lines[0], [o for o in lines[1:] if not o.startswith(
        ("-Xmx", "-Djava.io.tmpdir="))]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out = os.path.join(run_dir, "result.json")
    cmd = [java, *opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graft.perfbench.Harness",
           "--workload", args.workload, "--data", data, "--work", run_dir,
           "--out", out, "--warm", str(cfg["warm"]),
           "--passes", str(math.ceil(args.seconds / cfg["pass_s"])),
           "--trace", str(args.trace), "--cpus", str(cpus)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        # the JVM's own children (pipe mappers and reducers) share its group
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if rc != 0 or not os.path.exists(out):
        os.makedirs(OUT, exist_ok=True)
        kept = shutil.copy(log, os.path.join(OUT, "jvm-failed.log"))
        with open(log) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: harness {why}, log in {kept}:\n{tail}",
              file=sys.stderr)
        sys.exit(1)
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the program's sources are missing")
    stamp = source_stamp()
    launch = build(stamp)
    deadline = time.time() + JVM_DEADLINE_S
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    cfg = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if "corpus_mb" in cfg:
            data = os.path.join(run_dir, "corpus")
            expected = gen.gen_corpus(data, args.seed, cfg["corpus_mb"], cpus)
        else:
            data = os.path.join(run_dir, "tables")
            gen.gen_tables(data, args.seed, cfg["sf"])
        stat0 = cpu_stat()
        result = run_jvm(launch, args, cfg, run_dir, data, cpus, deadline)
        stat1 = cpu_stat()

        # output checks, outside the timed regions
        facts = result["workload_facts"]
        errors = {op["name"]: op["error"] for op in result["check_pass"]
                  if op["error"]}
        if "corpus_mb" in cfg:
            for name, out_dir in facts["outputs"].items():
                e = check.check_wordcount(out_dir, facts["reducers"], expected)
                if e:
                    errors.setdefault(name, e)
        else:
            names = [op["name"] for op in result["check_pass"]
                     if op["name"] not in errors]
            errors.update(check.check_queries(data, facts, names))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [op for region in ("untraced", "traced")
             for p in result[region].get("passes", []) for op in p]
    for op in timed:
        if op["error"]:
            errors.setdefault(op["name"], op["error"])
    failed = sum(1 for op in timed if op["name"] in errors)

    e2e, extra = metrics.end_to_end(result)
    if stat0 and stat1:
        # CPU time the hypervisor gave to other guests while the harness
        # ran: a slow run with a high share was slowed by its neighbours
        extra["host_steal_frac"] = (stat1[1] - stat0[1]) / (stat1[0] - stat0[0])
    extra["error_frac"] = failed / len(timed)
    if "corpus_mb" in cfg:
        extra.update(metrics.mr_throughput(result, cfg["corpus_mb"]))
    if args.trace:
        reported = metrics.per_layer(result, e2e["wall_s"])
    else:
        reported = e2e

    key = {"workload": args.workload, "cpus": cpus,
           "nproc": os.cpu_count(), "scale": cfg, "seed": args.seed,
           "commit": commit_id(stamp), "heap_mb": result["heap_mb"],
           "trace": args.trace,
           "spark": result["spark_version"]}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "records.jsonl"), "a") as fh:
        fh.write(json.dumps({"key": key, "metrics": reported, "e2e": e2e,
                             "extra": extra, "errors": errors,
                             "attempted": len(timed), "failed": failed,
                             "time": time.time()}) + "\n")
    if args.trace:
        with open(os.path.join(
                OUT, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"key": key, "spans": result["traced"]["spans"],
                       "jobs": result["traced"]["jobs"],
                       "stages": result["traced"]["stages"]}, fh)

    units = {m["name"]: m["unit"] for group in ("end_to_end", "per_layer")
             for m in BENCH[group]}
    print(f"perfbench {args.workload} seed={args.seed} cpus={cpus} "
          f"scale={cfg} commit={key['commit']}: {extra['passes']} passes, "
          f"{extra['samples']} op samples")
    for k, v in {**e2e, **extra, **(reported if args.trace else {})}.items():
        print(f"  {k:32s} {v:.6g} {units.get(k, '')}")
    setup = result["setup"]
    print("  setup phases: session {:.2f} s, {}, warm-up passes {}".format(
        setup["session_s"], ", ".join(
            f"{k} {v:.2f} s" for k, v in setup["phases"].items()) or "-",
        " ".join(f"{w:.2f}" for w in setup["warmup_pass_s"])))
    print("  timed passes: " + " ".join(
        f"{sum(op['wall_s'] for op in p):.2f}"
        for p in result["untraced"]["passes"]))
    for name, e in sorted(errors.items()):
        print(f"  FAILED {name}: {e}")
    print(json.dumps({
        "correct": not errors, "attempted": len(timed), "failed": failed,
        "metrics": {k: {"value": reported[k], "unit": units[k]}
                    for k in units if k in reported}}))


with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

if __name__ == "__main__":
    main()
