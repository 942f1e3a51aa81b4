"""Benchmark entry point.

    python3 perfbench/run.py --workload relational_sf0.1 --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  One driver process is a single
closed-loop client on ``local[<slots>]``, half the cores: each job
starts when the previous one has finished.  A run

1. derives the workload's input from ``--seed`` and computes the DuckDB
   oracle digests (both cached under ``.bench_work/``, outside timing);
2. sets up: ``session.get_spark``, one Python-worker spawn, and two
   warm-up passes: the first collects every job's result for the output
   check, the second is a pass like the measured ones;
3. runs ``round(--seconds / pass_s)`` measured passes, at least two,
   where ``pass_s`` is the workload's warm pass wall on a quiet 4-core
   host (build call + ``noop`` sink write per job), timing the wall and
   the CPU time of every job;
4. prints one line per metric, then one JSON line with the end-to-end
   metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

``--trace 1`` measures the untraced passes first, then as many traced
passes, and reports the difference of their pass walls as
``trace.overhead_s``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import sparkstats  # noqa: E402

#: A run must end within 180 s; stop starting passes well before that.
MEASURE_DEADLINE_S = 120.0
ABORT_AFTER_S = 170


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Spans:
    """In-memory span log, written out once when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **tags) -> int:
        self.spans.append({"id": len(self.spans), "run": self.run_id, "name": name,
                           "start": start, "end": end, "parent": parent, **tags})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def run_pass(spark, jobs, input_dir, collect: bool = False, traced: bool = False) -> dict:
    """Run every job once: build call, then a ``noop`` sink write, or
    with *collect* a ``toPandas`` collect for the output check instead.
    Times are epoch seconds; ``cpu`` is CPU seconds by process role
    (``sparkstats.process_cpu``)."""
    sc = spark.sparkContext
    rec = {"start": time.time(), "jobs": [], "frames": [], "results": {}}
    for job in jobs:
        sc.setJobDescription(job.name)
        c0 = sparkstats.process_cpu()
        t0 = time.time()
        t1 = error = None
        try:
            df = job.build(spark, input_dir)
            t1 = time.time()
            if collect:
                rec["results"][job.name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            if traced:
                rec["frames"].append(df)
        except Exception as ex:  # one failing job must not end the run
            error = f"{type(ex).__name__}: {str(ex).strip().splitlines()[0][:200]}"
        t2 = time.time()
        cpu = {k: v - c0[k] for k, v in sparkstats.process_cpu().items()}
        j = {"name": job.name, "start": t0, "mid": t1 or t2, "end": t2, "error": error,
             "cpu": cpu}
        if traced:
            j["persistent_rdds"] = sc._jsc.getPersistentRDDs().size()
            j["storage_bytes"] = sum(r.memSize() + r.diskSize()
                                     for r in sc._jsc.sc().getRDDStorageInfo())
        rec["jobs"].append(j)
    sc.setJobDescription(None)
    rec["end"] = time.time()
    rec["wall"] = rec["end"] - rec["start"]
    return rec


def task_slots(cores: int) -> int:
    """Spark task slots: half the cores, leaving the rest to the JVM's
    JIT compiler and garbage collector, the driver threads and the
    Python workers.  With a slot per core those threads contend with the
    tasks, and on a host that takes CPU away from this machine (steal)
    the work spent waiting on a descheduled thread swings CPU time from
    run to run."""
    return max(1, cores // 2)


def pass_count(seconds: float, pass_s: float) -> int:
    """Measured passes in a run: as many warm passes as fill *seconds*
    on a quiet host, and at least two, so a median never rests on one
    pass.  The count does not depend on how fast the host runs this
    time, so every run measures the same passes after the same warm-up:
    passes still speed up as the JVM warms, and a count that followed
    the host's speed would move the median with it."""
    return max(2, round(seconds / pass_s))


def measure(spark, jobs, input_dir, count: int, started: float,
            traced: bool = False) -> list[dict]:
    """*count* passes; fewer (but two) only if the run would otherwise
    pass its deadline."""
    passes: list[dict] = []
    while len(passes) < count:
        passes.append(run_pass(spark, jobs, input_dir, traced=traced))
        typical = statistics.median(p["wall"] for p in passes)
        if len(passes) >= 2 and time.monotonic() - started + typical > MEASURE_DEADLINE_S:
            break
    return passes


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def end_to_end(passes, jobs) -> dict:
    """One pass assembled from every job's medians over the passes, so a
    stall in one job of one pass does not move it.  ``cpu_s`` sums the
    per-job median CPU times and ``query_geomean_cpu_s`` is their
    geometric mean; ``wall_s`` sums the per-job median walls."""
    def median_of(name, value):
        return statistics.median(value(x) for p in passes for x in p["jobs"]
                                 if x["name"] == name)

    wall = {j.name: median_of(j.name, lambda x: x["end"] - x["start"]) for j in jobs}
    cpu = {j.name: median_of(j.name, lambda x: sum(x["cpu"].values())) for j in jobs}
    return {"cpu_s": sum(cpu.values()),
            "query_geomean_cpu_s": geomean(cpu.values()),
            "wall_s": sum(wall.values()),
            "per_job": {name: (wall[name], cpu[name]) for name in wall}}


def shutdown(spark, pids) -> None:
    """Stop Spark, close the gateway so the driver JVM exits, then wait
    for (or kill) every process the run started."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mapreducehs_spark")):
        print("perfbench: run from the repository root; mapreducehs_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    def _abort(*_):
        raise TimeoutError(f"run exceeded {ABORT_AFTER_S} s")

    signal.signal(signal.SIGALRM, _abort)
    signal.alarm(ABORT_AFTER_S)
    started = time.monotonic()

    work = os.path.join(root, ".bench_work")
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)

    import check
    import inputs
    import layers
    import workloads

    cores = len(os.sched_getaffinity(0))
    slots = task_slots(cores)
    wl = WORKLOADS[args.workload]
    jobs = workloads.jobs_for(args.workload)
    workloads.root_fixtures(work)

    input_dir = inputs.derive(work, wl.factor, args.seed)
    expected = check.oracle_digests(input_dir, workloads.oracle_sql(jobs), work, cores)

    from mapreducehs_spark.session import get_spark

    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
    spans = Spans(run_id)
    t0 = time.time()
    spark = get_spark(
        master=f"local[{slots}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        # registered before the warm-up, so the batch percentiles cover
        # every drain of the run
        progress = sparkstats.ProgressCollector()
        spark.streams.addListener(progress)
        # polls /proc from a thread of this process, so only when tracing:
        # its CPU would count in the end-to-end metrics
        sampler = sparkstats.RssSampler()
        sampler.start()
    try:
        t1 = time.time()
        spark.sparkContext.parallelize(range(slots), slots).map(lambda x: x).collect()
        t2 = time.time()
        warm = [run_pass(spark, jobs, input_dir, collect=True),
                run_pass(spark, jobs, input_dir)]
        t3 = time.time()
        setup = {"get_spark_s": t1 - t0, "spawn_s": t2 - t1, "warmup_s": t3 - t2}
        s = spans.add("session", t0, t3)
        for name, a, b in (("get_spark", t0, t1), ("spawn", t1, t2), ("warmup", t2, t3)):
            spans.add(name, a, b, s)

        # The first warm-up pass doubles as the output check: its
        # collected results are compared after set-up has been timed.
        failures: dict[str, str] = {}
        for name, pdf in warm[0].pop("results").items():
            why = check.mismatch(check.digest(pdf), expected[name])
            if why:
                failures[name] = why
        mismatched = len(failures)

        count = pass_count(args.seconds, wl.pass_s)
        cpu0 = sparkstats.cpu_times()
        passes = measure(spark, jobs, input_dir, count, started)
        steal = sparkstats.steal_share(cpu0, sparkstats.cpu_times())
        traced = []
        if args.trace:
            traced = measure(spark, jobs, input_dir, len(passes), started, traced=True)
            progress.wait_terminated(
                sum(j.stream for j in jobs) * (len(warm) + len(passes) + len(traced)))
        raised = [j for p in warm + passes + traced for j in p["jobs"] if j["error"]]
        for j in raised:
            failures.setdefault(j["name"], j["error"])
        attempted = len(jobs) * (len(warm) + len(passes) + len(traced))
        failed = len(raised) + mismatched

        e2e = end_to_end(passes, jobs)
        if args.trace:
            sparkstats.wait_idle(spark)
            metrics = layers.per_layer(spark, spans, traced, jobs, slots, progress)
            metrics.update({f"session.{k}": (v, "s") for k, v in setup.items()})
            overhead = end_to_end(traced, jobs)["wall_s"] - e2e["wall_s"]
            metrics["trace.overhead_s"] = (overhead, "s")
            metrics.update(layers.zero_fill(metrics))
        else:
            metrics = {
                "cpu_s": (e2e["cpu_s"], "s"),
                "query_geomean_cpu_s": (e2e["query_geomean_cpu_s"], "s"),
                "setup_s": (sum(setup.values()), "s"),
            }
        trace_path = os.path.join(work, "traces", f"{run_id}.json")
        if args.trace:
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            spans.write(trace_path)
    finally:
        if args.trace:
            sampler.stop()
        shutdown(spark, sparkstats.descendants())
        shutil.rmtree(tmp, ignore_errors=True)
    if args.trace:
        peak = sampler.peak_mb()
        metrics.update({f"memory.{k}_mb": (peak[k], "MB") for k in ("peak_rss", "jvm", "pyspark")})

    print(f"workload {args.workload}  seed {args.seed}  input {input_dir}")
    print(f"closed loop, 1 client, local[{slots}] on {cores} cores; {len(jobs)} jobs; "
          f"{len(passes)} measured passes" + (f" + {len(traced)} traced" if traced else ""))
    print("  pass walls (s): " + " ".join(f"{p['wall']:.3f}" for p in passes))
    print("  pass CPU (s):   " + " ".join(
        f"{sum(sum(x['cpu'].values()) for x in p['jobs']):.3f}" for p in passes))
    print(f"  host CPU steal during the measured passes: {steal:.1%}")
    print(f"  wall_s (sum of per-job median walls): {e2e['wall_s']:.4f} s")
    if args.trace:
        print("  peak RSS (MB): " + " ".join(f"{k}={v:.1f}" for k, v in peak.items())
              + f" with {sampler.pyspark_processes} PySpark processes")
    for name, (wall, cpu) in e2e["per_job"].items():
        print(f"  job {name:32s} median wall {wall:8.3f} s  CPU {cpu:8.3f} s"
              f"  (n={len(passes)})")
    for name, (value, unit) in sorted(metrics.items()):
        print(f"  {name:36s} {value:14.4f} {unit}")
    print(f"  error_rate {failed / attempted:.4f} ratio ({failed} of {attempted} job runs)")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    if args.trace:
        print(f"  spans: {trace_path}")
    signal.alarm(0)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
