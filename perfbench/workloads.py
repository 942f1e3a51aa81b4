"""The benchmark's workloads: which jobs run, on which derived input.

A job is a name, a build call returning the final DataFrame (for a
stream, the call drains the stream), and the registry oracle its result
is checked against.  Jobs run through the program's public entry points
only: ``QUERIES[name](spark, dir)`` and ``pipeline.word_count_pipeline``.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class Job:
    name: str
    build: Callable  # (spark, input_dir) -> DataFrame
    oracle: str  # registry name whose oracle checks the result
    stream: bool = False


@dataclass(frozen=True)
class Workload:
    factor: int  # replication of the base tables by tools/make_sf.py (1 = none)
    pass_s: float  # a warm pass's wall on a quiet 4-core host; sets the pass count
    jobs: tuple[str, ...]


#: Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    # JVM-only scan, join, aggregate and window plans.
    "relational_sf0.1": Workload(
        100, 6.0,
        ("q05_revenue_by_nation", "q36_window_frames", "q83_large_large_smj",
         "q85_salted_join"),
    ),
    # Eager driver actions, checkpoints, Arrow/pandas UDFs and one
    # stateful stream drain.
    "curation_sf0.001": Workload(
        1, 7.0,
        ("d11_minhash_checked", "t23_bigram_logprob", "pipeline_general",
         "st04_stream_dedup"),
    ),
}


def pipeline_general(spark, input_dir: str):
    """``word_count_pipeline(assoc=False)`` over ``documents``: the
    whole-group Reducer path.  Same input shaping as p01, whose oracle
    checks it."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.pipeline import word_count_pipeline
    from mapreducehs_spark.sources.catalog import load_table

    kv = load_table(spark, input_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    ).repartition(spark.sparkContext.defaultParallelism)
    return word_count_pipeline(assoc=False).run(kv)


def jobs_for(name: str) -> list[Job]:
    from mapreducehs_spark.queries import QUERIES

    out = []
    for job in WORKLOADS[name].jobs:
        if job == "pipeline_general":
            out.append(Job(job, pipeline_general, "p01_wordcount_pipeline"))
        else:
            out.append(Job(job, QUERIES[job], job, stream=job.startswith("st")))
    return out


def oracle_sql(jobs: list[Job]) -> dict[str, str]:
    """Oracle SQL per job, preferring the staged replay where one exists
    (d32, m14 and m16: their monolithic forms take minutes)."""
    from mapreducehs_spark.queries import ORACLE, STAGED_ORACLE

    return {j.name: STAGED_ORACLE.get(j.oracle, ORACLE[j.oracle]) for j in jobs}


def root_fixtures(work: str) -> None:
    """Build the stream replay fixtures under *work* instead of the
    program's default ``/tmp`` roots, so the benchmark writes only inside
    its checkout.  The queries look these builders up on the
    ``mapreducehs_spark.streaming`` package at call time."""
    from mapreducehs_spark import streaming
    from mapreducehs_spark.streaming import ops

    for fn in ("prepare_stream_dir", "prepare_docs_stream_dir"):
        setattr(streaming, fn, functools.partial(
            getattr(ops, fn), base_dir=os.path.join(work, "fixtures", fn)))
