"""Metric arithmetic for the benchmark: percentiles, span self times,
and the end-to-end and per-layer metrics of one run.

The harness writes raw records (per-operation times, spans, Spark
counters); everything here is a pure function of those records so the
tests can check it without Spark.
"""
import json
import math

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_ops": "1/s",
    "setup_s": "s",
}

MODULES = ["relational", "windowops", "scalar", "tpchsuite", "tpchsuite2",
           "tpchsuite3", "eventops", "pipelinequeries"]

SPAN_LAYERS = [
    "compile.validate", "compile.execute", "compile.result",
    "ops.build", "ops.evict",
    "etl.extract", "etl.transform", "etl.load", "etl.merge", "etl.compact",
    "store.build", "store.append", "store.delete", "store.search",
    "store.compact", "store.vacuum", "store.fsck",
]

PER_LAYER = dict(
    [(f"{layer}_ms", "ms") for layer in SPAN_LAYERS]
    + [("ops.action_ms", "ms"), ("ops.build_jobs", "count/op")]
    + [(f"ops.{m}_ms", "ms") for m in MODULES]
    + [("compile.refuse_ratio", "ratio"),
       ("catalyst.analysis_ms", "ms/op"),
       ("catalyst.optimization_ms", "ms/op"),
       ("catalyst.planning_ms", "ms/op"),
       ("scheduler.jobs", "count/op"), ("scheduler.stages", "count/op"),
       ("scheduler.tasks", "count/op"), ("scheduler.job_wall_ms", "ms/op"),
       ("scheduler.glue_ms", "ms/op"),
       ("executor.task_ms", "ms/op"), ("executor.cpu_ms", "ms/op"),
       ("executor.gc_ms", "ms/op"), ("executor.busy_frac", "ratio"),
       ("shuffle.write_bytes", "B/op"), ("shuffle.read_bytes", "B/op"),
       ("shuffle.fetch_wait_ms", "ms/op"), ("shuffle.spill_bytes", "B/op"),
       ("io.scan_rows", "count/op"), ("io.scan_bytes", "B/op"),
       ("io.scan_per_output_row", "ratio"), ("io.write_bytes", "B/op"),
       ("io.files_written", "count/op"),
       ("etl.compact_files_out_per_in", "ratio"),
       ("store.bytes_per_live_row", "B"),
       ("write_amp", "ratio"), ("failed_frac", "ratio"),
       ("jvm.peak_rss_mb", "MB"),
       ("trace.overhead_frac", "ratio"), ("trace.unattributed_frac", "ratio")]
)


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a
    share `q` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children. Spans are
    [name, start, end, parent, op] with parent an index or -1."""
    children = {}
    for i, s in enumerate(spans):
        if s[3] >= 0:
            children.setdefault(s[3], []).append((s[1], s[2]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s[1]), min(hi, s[2])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s[2] - s[1]) - covered)
    return out


def layer_self_ns(spans):
    """Summed self time and call count per span name."""
    totals = {}
    for s, t in zip(spans, self_times(spans)):
        tot, n = totals.get(s[0], (0, 0))
        totals[s[0]] = (tot + t, n + 1)
    return totals


def end_to_end(out):
    """End-to-end metrics of an untraced run's harness output."""
    timed = out["timed"]
    lat = [o["ms"] for o in timed["ops"]]
    return {
        "latency_p50_ms": percentile(lat, 0.5),
        "latency_p90_ms": percentile(lat, 0.9),
        "throughput_ops": len(lat) / timed["wall_s"],
        "setup_s": out["setup_s"],
    }


def _attribute(queries, ops):
    """Catalyst phase records ([start_ms, analysis, optimization,
    planning, files]) summed per operation whose interval holds them."""
    spans = sorted((o["start_ms"], o["end_ms"], str(o["id"])) for o in ops)
    per = {}
    for q in queries:
        for lo, hi, oid in spans:
            if lo <= q[0] <= hi:
                acc = per.setdefault(oid, [0.0, 0.0, 0.0, 0.0])
                for k in range(4):
                    acc[k] += q[k + 1]
                break
    return per


def per_layer(out, failed, cpus):
    """Per-layer metrics of a traced run's harness output. `failed` is
    the number of failed timed operations."""
    timed = out["timed"]
    ops = timed["ops"]
    n = len(ops)
    wall_ms = timed["wall_s"] * 1000.0
    m = {k: 0.0 for k in PER_LAYER}
    layers = layer_self_ns(timed["spans"])
    for layer in SPAN_LAYERS:
        tot, calls = layers.get(layer, (0, 0))
        m[f"{layer}_ms"] = tot / 1e6 / calls if calls else 0.0
    tot, calls = layers.get("ops.action", (0, 0))
    m["ops.action_ms"] = tot / 1e6 / calls if calls else 0.0
    named = sum(t for name, (t, _) in layers.items() if name != "op") / 1e6
    m["trace.unattributed_frac"] = max(0.0, 1.0 - named / wall_ms)
    for mod in MODULES:
        xs = [o["ms"] for o in ops if o["module"].lower() == mod]
        m[f"ops.{mod}_ms"] = sum(xs) / len(xs) if xs else 0.0
    sql = [o for o in ops if o["kind"] == "sql"]
    refused = {r["id"] for r in out["checks"]["sql"] if r.get("refused")}
    m["compile.refuse_ratio"] = (
        sum(1 for o in sql if o["id"] in refused) / len(sql) if sql else 0.0)
    counters = timed["counters"]
    per_op = counters.get("per_op", {})

    def total(key):
        return sum(v.get(key, 0.0) for v in per_op.values())

    for name, key in [("scheduler.jobs", "jobs"), ("scheduler.stages", "stages"),
                      ("scheduler.tasks", "tasks"),
                      ("scheduler.job_wall_ms", "job_wall_ms"),
                      ("executor.task_ms", "task_ms"),
                      ("executor.cpu_ms", "cpu_ms"), ("executor.gc_ms", "gc_ms"),
                      ("shuffle.write_bytes", "shuffle_write_bytes"),
                      ("shuffle.read_bytes", "shuffle_read_bytes"),
                      ("shuffle.fetch_wait_ms", "fetch_wait_ms"),
                      ("shuffle.spill_bytes", "spill_bytes"),
                      ("io.scan_rows", "scan_rows"),
                      ("io.scan_bytes", "scan_bytes"),
                      ("ops.build_jobs", "build_jobs")]:
        m[name] = total(key) / n
    cat = _attribute(counters.get("queries", []), ops)
    for k, name in enumerate(["catalyst.analysis_ms", "catalyst.optimization_ms",
                              "catalyst.planning_ms"]):
        m[name] = sum(v[k] for v in cat.values()) / n
    catalyst = sum(sum(v[:3]) for v in cat.values())
    op_ms = sum(o["ms"] for o in ops)
    m["scheduler.glue_ms"] = max(
        0.0, op_ms - total("job_wall_ms") - catalyst) / n
    m["executor.busy_frac"] = total("task_ms") / (wall_ms * cpus)
    rows = sum(o.get("rows", 0) for o in ops)
    m["io.scan_per_output_row"] = total("scan_rows") / rows if rows else 0.0
    m["io.write_bytes"] = timed["bytes_written"] / n
    m["io.files_written"] = sum(
        q[4] for q in counters.get("queries", [])) / n
    files = timed["compact_files"]
    fin = sum(a for a, _ in files)
    m["etl.compact_files_out_per_in"] = (
        sum(b for _, b in files) / fin if fin else 0.0)
    etl = out["checks"].get("etl", {})
    live = sum(int(v["store_live_rows"]) for v in etl.values())
    m["store.bytes_per_live_row"] = (
        sum(int(v["store_bytes"]) for v in etl.values()) / live if live else 0.0)
    m["write_amp"] = write_amp(out)
    m["failed_frac"] = failed / n
    m["jvm.peak_rss_mb"] = out["peak_rss_mb"]
    plain = out.get("untraced")
    if plain and plain["ops"]:
        base = len(plain["ops"]) / plain["wall_s"]
        m["trace.overhead_frac"] = base / (n / timed["wall_s"]) - 1.0
    return m


def write_amp(out):
    """Bytes written to storage in the timed window over the bytes of the
    user rows its ETL cycles loaded or appended (0 without ETL cycles)."""
    timed = out["timed"]
    user = sum(int(out["inputs"][str(u)]) for u, _ in timed["cycles"])
    return timed["bytes_written"] / user if user else 0.0


def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()}})


def parse_result(stdout):
    """The result object printed as the last line of a run's stdout."""
    last = [l for l in stdout.splitlines() if l.strip()][-1]
    obj = json.loads(last)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(obj)}")
    return obj
