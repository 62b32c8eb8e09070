"""Statistics for the benchmark: percentiles, self time, run metrics."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else float("nan")


def percentile(values, p):
    """Nearest-rank percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = max(1, math.ceil(p / 100 * len(xs)))
    return xs[k - 1]


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it.

    None when that percentile would not lie above the median (fewer than
    20 samples): such a run has no tail worth the name.
    """
    if n < 20:
        return None
    return math.floor(100 * (n - 10) / n)


def _union_length(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time in seconds, summed per layer.

    ``spans`` are dicts with id, parent, layer, start and end (epoch ms).
    A span's self time is its duration minus the part of its interval that
    its child spans cover; overlapping children count once.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if min(c["end"], s["end"]) > max(c["start"], s["start"]))
        own = max(0.0, s["end"] - s["start"] - covered) / 1e3
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def end_to_end(result):
    """The untraced run's end-to-end metrics and the extras printed beside
    them. Timings are medians over the timed region's passes and ops."""
    passes = result["untraced"]["passes"]
    walls = [op["wall_s"] for p in passes for op in p]
    per_op = {}
    for p in passes:
        for op in p:
            per_op.setdefault(op["name"], []).append(op["wall_s"])
    setup = result["setup"]
    m = {
        "setup_s": (setup["end_ms"] - setup["jvm_start_ms"]) / 1e3,
        "wall_s": median([sum(op["wall_s"] for op in p) for p in passes]),
        "cpu_s": median([sum(op["cpu_s"] for op in p) for p in passes]),
        # each op's median over the passes first, so that one slow sample
        # of the op nearest the middle does not move the result
        "latency_p50_s": median([median(v) for v in per_op.values()]),
    }
    extra = {"samples": len(walls), "passes": len(passes),
             "peak_rss_mb": result["peak_rss_mb"],
             "live_heap_mb": result["live_heap_mb"]}
    tp = tail_percentile(len(walls))
    if tp is not None:
        extra[f"latency_p{tp}_s"] = percentile(walls, tp)
    return m, extra


def mr_throughput(result, input_mb):
    """MB/s of input per kind of MR op ('native', 'pipe')."""
    out = {}
    for kind in ("native", "pipe"):
        ops = [op for p in result["untraced"]["passes"] for op in p
               if op["kind"] == kind]
        if ops:
            out[f"mr_{kind}_mb_s"] = input_mb * len(ops) / sum(
                op["wall_s"] for op in ops)
    return out


def _spans(traced):
    """Harness spans plus one span per Spark job and stage."""
    spans = list(traced["spans"])
    for j in traced["jobs"]:
        if j["end"] is not None:
            spans.append({"id": f"j{j['id']}", "parent": j["parent"],
                          "layer": "exec.job", "start": j["start"],
                          "end": j["end"]})
    for s in traced["stages"]:
        if s["start"] is not None and s["end"] is not None:
            spans.append({"id": f"s{s['id']}", "parent": f"j{s['job']}",
                          "layer": "exec.stage", "start": s["start"],
                          "end": s["end"]})
    return spans


def _dur_s(x):
    return (x["end"] - x["start"]) / 1e3


def per_layer(result, untraced_wall_s):
    """Per-layer metrics of the traced region, each per pass (totals over
    the region divided by its pass count) unless it is a ratio, median or
    set-up time. Layers a workload does not use read 0."""
    t = result["traced"]
    n = len(t["passes"])
    c = t["counters"]
    cpus = result["cpus"]
    spans = t["spans"]
    layer = {s["id"]: s["layer"] for s in spans}
    walls = [sum(op["wall_s"] for op in p) for p in t["passes"]]
    m = {}

    def total(layer_name):
        return sum(_dur_s(s) for s in spans if s["layer"] == layer_name)

    # mr: jobs launched by MapReduce ops; the last stage of a job reduces
    stages = {s["id"]: s for s in t["stages"]}
    mr_jobs = [j for j in t["jobs"]
               if j["op"].startswith(("native_", "pipe_"))]
    maps, reduces, skews = [], [], []
    for j in mr_jobs:
        ids = [i for i in j["stages"] if i in stages]
        if not ids:
            continue
        last = max(ids)
        reduces.append(stages[last])
        maps += [stages[i] for i in ids if i != last]
        rr = stages[last]["read_records"]
        if rr and sum(rr):
            skews.append(max(rr) / (sum(rr) / len(rr)))
    commit = 0.0
    for r in (s for s in spans if s["layer"] == "mr.run"):
        ends = [j["end"] for j in mr_jobs if j["end"] is not None
                and r["start"] <= j["start"] <= r["end"]]
        if ends:
            commit += (r["end"] - max(ends)) / 1e3
    mr_stages = maps + reduces
    stage_s = sum(_dur_s(s) for s in mr_stages if s["start"] is not None)
    m.update({
        "mr.run_s": total("mr.run") / n,
        "mr.queue_wait_s": total("mr.queue") / n,
        "mr.map_stage_s": sum(_dur_s(s) for s in maps
                              if s["start"] is not None) / n,
        "mr.reduce_stage_s": sum(_dur_s(s) for s in reduces
                                 if s["start"] is not None) / n,
        "mr.commit_s": commit / n,
        # the share of MR job time spent in map and reduce stages; the rest
        # is job launch, input listing and output commit
        "mr.stage_share": stage_s / total("mr.run") if mr_jobs else 0.0,
        "mr.shuffle_records": sum(s["write_records"] for s in mr_stages) / n,
        "mr.shuffle_write_bytes": sum(s["write_bytes"] for s in mr_stages) / n,
        "mr.spill_bytes": sum(s["spill_bytes"] for s in mr_stages) / n,
        "mr.map_tasks": sum(s["tasks"] for s in maps) / n,
        "mr.reduce_skew": median(skews) if skews else 0.0,
    })

    schema = [j for j in t["jobs"] if j["schema"] and j["end"] is not None]
    phases = result["setup"]["phases"]
    m.update({
        "tables.schema_jobs": len(schema) / n,
        "tables.schema_s": sum(_dur_s(j) for j in schema) / n,
        "tables.footer_warm_s": phases.get("tables.footer_warm_s", 0.0),
        "tables.prewarm_s": sum(v for k, v in phases.items()
                                if k.startswith("tables.prewarm.")),
        "tables.prewarm.streamstage_s":
            phases.get("tables.prewarm.streamstage_s", 0.0),
        "tables.output_bytes": c.get("tables.output_bytes", 0.0) / n,
    })

    m.update({
        "ops.build_s": total("ops.build") / n,
        "ops.build_jobs": sum(1 for j in t["jobs"]
                              if layer.get(j["parent"]) == "ops.build") / n,
        "ops.exec_s": total("ops.action") / n,
    })

    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_s"] = c.get(f"catalyst.{k}_s", 0.0) / n
    m["codegen.compiles"] = c.get("codegen.compiles", 0.0) / n
    m["codegen.compile_s"] = c.get("codegen.compile_s", 0.0) / n

    m.update({
        "exec.jobs": len(t["jobs"]) / n,
        "exec.stages": len(t["stages"]) / n,
        "exec.idle_frac": 1 - c.get("exec.run_s", 0.0) / (sum(walls) * cpus),
    })
    for k in ("tasks", "run_s", "cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        m[f"exec.{k}"] = c.get(f"exec.{k}", 0.0) / n
    m["jvm.gc_s"] = c.get("jvm.gc_s", 0.0) / n
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    m["jvm.live_heap_mb"] = result["live_heap_mb"]

    m["streaming.batches"] = c.get("streaming.batches", 0.0) / n
    m["streaming.batch_ms_p50"] = (median(t["stream_batch_ms"])
                                   if t["stream_batch_ms"] else 0.0)
    m["streaming.first_batch_s"] = (median(t["stream_first_batch_s"])
                                    if t["stream_first_batch_s"] else 0.0)
    for k in ("planning_ms", "add_batch_ms", "latest_offset_ms",
              "wal_commit_ms", "commit_offsets_ms", "state_rows",
              "state_commit_ms"):
        m[f"streaming.{k}"] = c.get(f"streaming.{k}", 0.0) / n

    selfs = self_times(_spans(t))
    for lay in SELF_LAYERS:
        m[f"self.{lay.replace('.', '_')}_s"] = selfs.get(lay, 0.0) / n
    m["trace.overhead_s"] = median(walls) - untraced_wall_s
    return m


# span layers, outermost first: pass > op > build | action | mr run and
# queue > Spark job > stage
SELF_LAYERS = ["pass", "op", "ops.build", "ops.action", "mr.queue", "mr.run",
               "exec.job", "exec.stage"]
