"""SparkSession factory.

The reference delegates execution wholly to DuckDB in-process
(src/blq/storage.py:560-582); our equivalent is a SparkSession with the
knobs that matter at scale set up-front:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- modest shuffle partitions for local mode; on a real cluster this is
  overridden by AQE's coalescing + advisory partition size anyway
- Arrow enabled so the few Pandas-UDF paths are vectorized
- zstd parquet compression (parity with reference's COPY ... zstd,
  src/blq/commands/core.py:2002-2009)
- UTC session timezone so timestamp semantics are stable across hosts
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "blq-cli-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # Ship this package's location to Python workers explicitly. Without
    # it, workers resolve `blq_cli_spark` only when their inherited cwd
    # happens to be the repo root — so the first get_spark() call from
    # any other directory (CLI run from a project dir, test that chdir'd)
    # poisons every later Arrow-UDF task with ModuleNotFoundError. Must
    # run BEFORE the JVM starts: the worker daemon inherits the driver's
    # env via the JVM. A pip-installed deployment hits the same path via
    # site-packages; this makes the source checkout equally relocatable.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "")
    if pkg_root not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + parts if parts else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # default-on, but the numpy kernels' per-process GEMM priming
        # (operators/similarity._prime_gemm) relies on it — keep explicit
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _jsc(spark):
    """The session's JavaSparkContext; None without a JVM gateway (a
    Spark Connect client, whose `sparkContext` raises AttributeError or,
    on older clients, NotImplementedError; or a stopped context)."""
    try:
        return spark.sparkContext._jsc
    except (AttributeError, NotImplementedError):
        return None


def persistent_rdd_ids(spark) -> set[int]:
    """Ids in the session's persistent-RDD census; empty without a JVM
    gateway. Registration is immediate, even for a lazy
    `localCheckpoint` or a `cache()`d plan's first materialization."""
    jsc = _jsc(spark)
    if jsc is None:
        return set()
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdds(spark, ids) -> None:
    """Drop the blocks of the persistent RDDs `ids`, non-blocking.

    Goes through `SparkContext.unpersistRDD`, the path Spark's own
    ContextCleaner takes: unlike `JavaRDD.unpersist` it logs no
    "was locally checkpointed, its lineage has been truncated" WARN per
    dropped block."""
    jsc = _jsc(spark)
    if jsc is None:
        return
    sc = jsc.sc()
    for rdd_id in ids:
        sc.unpersistRDD(rdd_id, False)


@contextmanager
def checkpoint_scope(spark):
    """Free, on exit, exactly the persistent RDDs registered inside.

    Several operators pin intermediates with `localCheckpoint` (minhash
    signatures, banded bucket sizing, the bucketed-SemDeDup assignment,
    IVF appends, `shared_tables`, the fused parse census). Spark never
    frees those blocks when the DataFrame leaves Python scope, so a
    long-lived session (serve, a notebook, a bench loop) would hold
    them until it dies. Wrap one query — building the DataFrame AND
    consuming its result — in the scope: blocks registered before
    entry (a user's `cache()`, an outer scope's checkpoints) are left
    alone, and the release runs even when the body raises. A lazy
    `cache()` first materialized inside the scope counts as the
    scope's own.

    A result must be fully consumed before exit: a locally
    checkpointed block is the only copy (the lineage was cut), so a
    later action on a surviving handle fails instead of recomputing.

    No-op without a JVM gateway (Spark Connect: blocks follow the
    server session), and while a streaming query is active (an
    in-flight `foreachBatch` may hold a block registered meanwhile).
    Assumes one query at a time on the session: a concurrent job's
    blocks registered inside the window would be freed too.
    """
    before = persistent_rdd_ids(spark)
    try:
        yield
    finally:
        fresh = persistent_rdd_ids(spark) - before
        if fresh and not spark.streams.active:
            unpersist_rdds(spark, fresh)
