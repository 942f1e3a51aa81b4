"""Per-layer metrics of a traced run.

Spans come from the benchmark's own calls (one per job, with ``build``
or ``drain`` and ``sink`` children); each Spark job becomes a child span
of the call during which it was submitted.  Stages attach to jobs
through each job's stage ids and SQL executions through the job ids
they ran, so every task and SQL metric lands on exactly one job.
Values are per pass, as the median over the traced passes, except the
streaming batch percentiles (over every micro-batch of the run: warm-up,
untraced and traced passes) and the end-of-run counters.
"""

from __future__ import annotations

import bisect
import statistics
from collections import defaultdict

import sparkstats
from workloads import WORKLOADS

#: (name, unit) of every per-layer metric, in report order.
LAYER_METRICS = [
    ("session.get_spark_s", "s"), ("session.spawn_s", "s"), ("session.warmup_s", "s"),
    ("queries.wall_s", "s"), ("queries.build_s", "s"), ("queries.sink_s", "s"),
    ("queries.jobs", "count"),
    ("queries.eager_jobs", "count"), ("queries.driver_gap_s", "s"),
    ("plans.exchanges", "count"), ("plans.smj", "count"),
    ("plans.broadcast_joins", "count"), ("plans.codegen_stages", "count"),
    ("sources.scan_bytes", "B"), ("sources.scan_rows", "count"), ("sources.scan_s", "s"),
    ("tasks.stages", "count"), ("tasks.count", "count"), ("tasks.run_s", "s"),
    ("tasks.cpu_s", "s"), ("tasks.gc_s", "s"), ("tasks.core_busy", "ratio"),
    ("exchange.write_bytes", "B"), ("exchange.read_bytes", "B"), ("exchange.write_s", "s"),
    ("exchange.fetch_wait_s", "s"), ("exchange.spill_bytes", "B"),
    ("exchange.peak_mem_bytes", "B"), ("exchange.broadcast_bytes", "B"),
    ("udf.run_s", "s"), ("udf.start_s", "s"), ("udf.init_s", "s"),
    ("udf.bytes_sent", "B"), ("udf.bytes_returned", "B"),
    ("iteration.blocks_left", "count"), ("iteration.storage_bytes_peak", "B"),
    ("memory.peak_rss_mb", "MB"), ("memory.jvm_mb", "MB"), ("memory.pyspark_mb", "MB"),
    ("process.driver_python_cpu_s", "s"), ("process.jvm_cpu_s", "s"),
    ("process.pyspark_cpu_s", "s"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.planning_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.state_rows_peak", "count"),
    ("streaming.state_bytes_peak", "B"), ("streaming.state_commit_s", "s"),
    ("streaming.state_partitions", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.batch_tail_ms", "ms"), ("streaming.batch_tail_pct", "pct"),
    ("streaming.batch_count", "count"),
] + [(f"query.{job}.wall_s", "s")
     for w in WORKLOADS.values() for job in w.jobs] + [("trace.overhead_s", "s")]

_UDF = {
    "udf.run_s": "time to run Python workers",
    "udf.start_s": "time to start Python workers",
    "udf.init_s": "time to initialize Python workers",
    "udf.bytes_sent": "data sent to Python workers",
    "udf.bytes_returned": "data returned from Python workers",
}
_SCAN = {
    "sources.scan_bytes": "size of files read",
    "sources.scan_rows": "number of output rows",
    "sources.scan_s": "scan time",
}
_STAGE_SUMS = {
    "tasks.count": "tasks", "tasks.run_s": "run_s", "tasks.cpu_s": "cpu_s",
    "tasks.gc_s": "gc_s", "exchange.write_bytes": "shuffle_write_bytes",
    "exchange.read_bytes": "shuffle_read_bytes", "exchange.write_s": "shuffle_write_s",
    "exchange.fetch_wait_s": "fetch_wait_s", "exchange.spill_bytes": "spill_bytes",
}
_PROGRESS_SUMS = {
    "streaming.add_batch_s": "addBatch", "streaming.planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
}
_EPS = 0.002  # the status stores keep whole milliseconds


def _sql_node(name: str) -> bool:
    """Plan nodes whose metrics feed a layer: parquet scans, broadcast
    exchanges and the Python/Arrow evaluation nodes."""
    return (name.startswith("Scan parquet") or name == "BroadcastExchange"
            or any(k in name for k in ("Python", "Pandas", "Arrow")))


_SQL_METRICS = set(_UDF.values()) | set(_SCAN.values()) | {"data size"}


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def plan_counts(frames) -> dict[str, float]:
    from mapreducehs_spark.plans import inspect as pi

    out = {"plans.exchanges": 0, "plans.smj": 0, "plans.broadcast_joins": 0,
           "plans.codegen_stages": 0}
    for df in frames:
        out["plans.exchanges"] += pi.exchange_count(df)
        out["plans.smj"] += pi.sort_merge_join_count(df)
        out["plans.broadcast_joins"] += pi.broadcast_join_count(df)
        out["plans.codegen_stages"] += pi.codegen_stage_count(df)
    return out


def per_layer(spark, spans, passes, jobs, slots, progress) -> dict[str, tuple[float, str]]:
    stream = {j.name for j in jobs if j.stream}
    since = passes[0]["start"] - _EPS
    spark_jobs = sparkstats.read_jobs(spark, since)
    stages = sparkstats.read_stages(spark)
    sql_by_job: dict[int, list[dict]] = {}
    for e in sparkstats.read_sql(spark, since, _sql_node, _SQL_METRICS):
        if e["jobs"]:
            sql_by_job.setdefault(e["jobs"][0], []).append(e)

    rows = []
    for i, p in enumerate(passes):
        row: dict[str, float] = defaultdict(float)
        pass_span = spans.add("pass", p["start"], p["end"], None, index=i)
        calls = []  # (start, span id, is_build, job name)
        for x in p["jobs"]:
            js = spans.add(x["name"], x["start"], x["end"], pass_span, job=x["name"],
                           persistent_rdds=x["persistent_rdds"])
            first = "drain" if x["name"] in stream else "build"
            calls.append((x["start"], spans.add(first, x["start"], x["mid"], js,
                                                job=x["name"]), True, x["name"]))
            calls.append((x["mid"], spans.add("sink", x["mid"], x["end"], js,
                                              job=x["name"]), False, x["name"]))
            for role, cpu in x["cpu"].items():
                row[f"process.{role}_cpu_s"] += cpu
            row["queries.build_s"] += x["mid"] - x["start"]
            row["queries.sink_s"] += x["end"] - x["mid"]
            row[f"query.{x['name']}.wall_s"] = x["end"] - x["start"]
        starts = [c[0] for c in calls]
        mine = [j for j in spark_jobs if p["start"] - _EPS <= j["submitted"] <= p["end"]]
        for j in mine:
            k = max(0, bisect.bisect_right(starts, j["submitted"] + _EPS) - 1)
            _, parent, is_build, job = calls[k]
            spans.add("spark_job", j["submitted"], j["completed"] or p["end"], parent,
                      job=job, spark_job=j["id"])
            row["queries.jobs"] += 1
            row["queries.eager_jobs"] += is_build
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is None:
                    continue
                row["tasks.stages"] += 1
                for k2, field in _STAGE_SUMS.items():
                    row[k2] += st[field]
                row["exchange.peak_mem_bytes"] = max(row["exchange.peak_mem_bytes"],
                                                     st["peak_mem_bytes"])
            for e in sql_by_job.get(j["id"], []):
                for name, m in e["nodes"]:
                    if name.startswith("Scan parquet"):
                        for k2, metric in _SCAN.items():
                            row[k2] += m.get(metric, 0.0)
                    if name == "BroadcastExchange":
                        row["exchange.broadcast_bytes"] += m.get("data size", 0.0)
                    for k2, metric in _UDF.items():
                        row[k2] += m.get(metric, 0.0)
        row["queries.wall_s"] = p["wall"]
        row["queries.driver_gap_s"] = p["wall"] - union_length(
            [(j["submitted"], j["completed"] or p["end"]) for j in mine],
            p["start"], p["end"])
        row["tasks.core_busy"] = row["tasks.run_s"] / (p["wall"] * slots)
        batches = [b for b in progress.batches if p["start"] - _EPS <= b["at"] <= p["end"]]
        row["streaming.batches"] = len(batches)
        row["streaming.input_rows"] = sum(b["input_rows"] for b in batches)
        for k2, field in _PROGRESS_SUMS.items():
            row[k2] = sum(b["duration_ms"].get(field, 0) for b in batches) / 1000.0
        row["streaming.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1000.0
        for k2, field in (("streaming.state_rows_peak", "state_rows"),
                          ("streaming.state_bytes_peak", "state_bytes"),
                          ("streaming.state_partitions", "state_partitions")):
            row[k2] = max((b[field] for b in batches), default=0)
        rows.append(row)

    units = dict(LAYER_METRICS)
    keys = set().union(*rows)
    out = {k: (statistics.median(r.get(k, 0.0) for r in rows), units[k]) for k in keys}
    out.update({k: (v, units[k]) for k, v in plan_counts(passes[-1]["frames"]).items()})
    last = passes[-1]["jobs"]
    out["iteration.blocks_left"] = (last[-1]["persistent_rdds"], "count")
    out["iteration.storage_bytes_peak"] = (
        max(x["storage_bytes"] for p in passes for x in p["jobs"]), "B")
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in progress.batches]
    tail = sparkstats.tail_percentile(trig)
    out["streaming.batch_p50_ms"] = (statistics.median(trig) if trig else 0.0, "ms")
    out["streaming.batch_tail_ms"] = (tail[1] if tail else 0.0, "ms")
    out["streaming.batch_tail_pct"] = (tail[0] if tail else 0, "pct")
    out["streaming.batch_count"] = (len(trig), "count")
    return out


def zero_fill(metrics: dict) -> dict:
    """Zero for every per-layer metric this workload does not produce
    (another workload's jobs, streaming counters on a batch workload)."""
    return {k: (0.0, u) for k, u in LAYER_METRICS if k not in metrics}
