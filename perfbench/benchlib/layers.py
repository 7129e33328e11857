"""Turns one run's raw result (and span file) into named metrics.

End-to-end metrics come from the untraced timed region. Per-layer metrics
come from the traced region of a `--trace 1` run; counts and times there are
per query execution unless the unit says otherwise.
"""
from . import stats

# Instrument counters of operators the workloads call, reported per pass
# (exact counts). `xcos.prefix` and `colkernel.*` count paths the engine
# chooses per query (the prefix-filter join, the columnar dot kernel); they
# read 0 while it picks the other path.
COUNTERS = (
    "eigsh.block_steps", "xcos.u_rows", "xcos.prefix", "colkernel.batches",
    "colkernel.rows",
)
MB = 1e6


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def region(result, label):
    """The region `label`, or the union of its parts `label-1`, `label-2`
    (a traced run interleaves untraced and traced quarters)."""
    parts = [r for r in result["regions"]
             if r["label"] == label or r["label"].startswith(label + "-")]
    counters = {}
    for r in parts:
        for k, v in r["counters"].items():
            counters[k] = counters.get(k, 0) + v
    merged = {k: sum(r[k] for r in parts)
              for k in ("wall_s", "cpu_s", "jvm_gc_s", "codegen_compiles", "passes")}
    merged.update(counters=counters, execs=[x for r in parts for x in r["execs"]])
    return merged


def latencies(execs):
    return [x["end"] - x["start"] for x in execs]


def end_to_end(result):
    """The metrics a user sees, plus the ones kept off the final line: a
    fraction that is normally 0, the JVM's peak RSS (set by G1's heap sizing
    more than by the engine) and the tail, which needs enough samples."""
    timed = region(result, "timed")
    execs = timed["execs"]
    ok = [x for x in execs if x.get("correct")]
    lat = latencies(ok or execs)
    metrics = {
        "setup_s": metric(result["setup"]["setup_s"], "s"),
        "throughput_qps": metric(len(ok) / timed["wall_s"], "1/s"),
        "latency_s.p50": metric(stats.median(lat), "s"),
        "cpu_s_per_query": metric(timed["cpu_s"] / len(execs), "s"),
    }
    extra = {"failed_frac": metric(1 - len(ok) / len(execs), "fraction"),
             "peak_rss_mb": metric(result["end"]["peak_rss_mb"], "MB"),
             "passes": metric(timed["passes"], "count")}
    t = stats.tail(lat)
    if t is not None:
        value, pct, beyond = t
        extra["latency_s.tail"] = metric(value, "s")
        extra["latency_s.tail_pct"] = metric(pct, "percentile")
        extra["latency_s.tail_beyond"] = metric(beyond, "count")
    return metrics, extra


def per_layer(result, spans, cores):
    traced = region(result, "traced")
    execs = traced["execs"]
    n = len(execs)
    lay = [x["layers"] for x in execs]

    def mean(key, scale=1.0):
        return sum(l[key] for l in lay) / n / scale

    by_id = {s["id"]: s for s in spans}
    selfs = stats.self_times(spans)

    def span_total(name, self_only=False):
        return sum(selfs[s["id"]] if self_only else s["end"] - s["start"]
                   for s in spans if s["name"] == name) / n

    eager_jobs = sum(1 for s in spans if s["name"] == "job"
                     and by_id.get(s["parent"], {}).get("name") == "operators.eager")
    jobs_by_group = {}
    for s in spans:
        if s["name"] == "job":
            jobs_by_group.setdefault(s["group"], []).append((s["start"], s["end"]))
    gap = sum((x["end"] - x["start"])
              - stats.union_length(jobs_by_group.get(x["group"], []), x["start"], x["end"])
              for x in execs) / n
    untimed = region(result, "timed")
    overhead = (traced["wall_s"] / n) / (untimed["wall_s"] / len(untimed["execs"])) - 1
    held = [l["held_bytes"] for l in lay]
    m = {
        "GraftSession.create_s": metric(result["setup"]["create_s"], "s"),
        "operators.eager_s": metric(span_total("operators.eager"), "s/query"),
        "operators.eager_self_s": metric(span_total("operators.eager", True), "s/query"),
        "operators.eager_jobs": metric(eager_jobs / n, "jobs/query"),
        "plans.plan_s": metric(sum(sum(l["plan_ms"].values()) for l in lay) / n / 1e3,
                               "s/query"),
        "plans.exchanges": metric(mean("exchanges"), "count/query"),
        "plans.graft_nodes": metric(mean("graft_nodes"), "count/query"),
        "exec.action_s": metric(span_total("exec.action"), "s/query"),
        "storage.release_s": metric(span_total("storage.release"), "s/query"),
        "query.self_s": metric(span_total("query", True), "s/query"),
        "functions.codegen_compiles": metric(traced["codegen_compiles"] / n, "count/query"),
        "Tables.input_mb": metric(mean("input_bytes", MB), "MB/query"),
        "Tables.input_rows": metric(mean("input_rows"), "rows/query"),
        "exec.jobs": metric(mean("jobs"), "count/query"),
        "exec.stages": metric(mean("stages"), "count/query"),
        "exec.tasks": metric(mean("tasks"), "count/query"),
        "exec.task_s": metric(mean("task_s"), "s/query"),
        "exec.task_cpu_s": metric(mean("task_cpu_s"), "s/query"),
        "exec.gc_s": metric(mean("gc_s"), "s/query"),
        "exec.failed_tasks": metric(sum(l["failed_tasks"] for l in lay), "count"),
        "exec.driver_gap_s": metric(gap, "s/query"),
        "exec.core_util": metric(sum(l["task_s"] for l in lay) / (traced["wall_s"] * cores),
                                 "fraction"),
        "exec.shuffle_write_mb": metric(mean("shuffle_write_bytes", MB), "MB/query"),
        "exec.shuffle_read_mb": metric(mean("shuffle_read_bytes", MB), "MB/query"),
        "exec.spill_mb": metric(mean("spill_bytes", MB), "MB/query"),
        "storage.held_mb": metric(result["end"]["held_bytes"] / MB, "MB"),
        "storage.held_blocks": metric(result["end"]["held_blocks"], "count"),
        "storage.peak_held_mb": metric(max(held) / MB, "MB"),
        "jvm.gc_s": metric(traced["jvm_gc_s"] / n, "s/query"),
        "trace.overhead_frac": metric(overhead, "fraction"),
    }
    for c in COUNTERS:
        m[f"operators.counter.{c}"] = metric(
            traced["counters"].get(c, 0) / traced["passes"], "count/pass")
    return m


def summarise(result, spans, traced, cores):
    """Returns (metrics for the final line, other metrics to print)."""
    e2e, extra = end_to_end(result)
    if not traced:
        return e2e, extra
    return per_layer(result, spans, cores), {**e2e, **extra}
