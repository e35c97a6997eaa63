"""Driver-testdata table loaders.

Mirrors the reference's parquet scan surface (S1/S6 in SURVEY.md §2.1:
src/blq/schema.sql:41-52, src/blq/query.py:115-137) for the driver's
deterministic tables. Partition discovery / mergeSchema are native Spark;
these are single-file tables so a plain read suffices — predicate pushdown
and column pruning still apply (verify with .explain: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Thread-local shared-scan override (round 11, VERDICT r10 ask #5):
# inside a `shared_tables` context, table() serves a localCheckpoint'ed
# copy of the named tables so a union-suite's ~20 member pipelines read
# the corpus ONCE instead of once per member. Thread-local for the same
# reason the logparse prefilter state is: concurrent plan construction
# on other threads must not see another gate's override.
_TL_SHARED = threading.local()


class shared_tables:
    """Context manager: one materialized scan feeding many consumers.

    Every `table()` call for (sf_dir, name) inside the context returns
    the SAME eagerly-localCheckpoint'ed DataFrame. Two effects on a
    union-suite of N members over the same corpus: the parquet is read
    once instead of N times, and each member's plan subtree starts at
    the checkpoint RDD instead of repeating the scan+normalize lineage
    — the N-way union's analysis/optimization cost shrinks with it
    (guide §3.3: very wide unions make planning itself the bottleneck;
    materialize to truncate).

    Used for the document/embedding suites only: those members consume
    nearly every column, so the checkpoint stores ~what any one scan
    reads. NOT used for the TPC-H deep suite — its members prune the
    wide fact table to narrow column subsets at the parquet scan, and a
    full-width materialization would cost more at scale than the
    repeated pruned reads it saves.

    Entries are keyed by session as well as (sf_dir, name), so a nested
    context never serves one session's checkpoint to another. The
    context does not free its blocks: the members' plans read them
    after it exits, so the enclosing `session.checkpoint_scope` frees
    them once the result is consumed (a plan-only caller wraps its
    build in a scope too)."""

    def __init__(self, spark: SparkSession, sf_dir: str, names: tuple[str, ...]):
        self.spark, self.sf_dir, self.names = spark, sf_dir, names

    def __enter__(self):
        self._prev = getattr(_TL_SHARED, "cache", None)
        cache = dict(self._prev or {})
        for n in self.names:
            key = (self.spark, self.sf_dir, n)
            if key not in cache:
                cache[key] = table(self.spark, self.sf_dir, n).localCheckpoint(
                    eager=True
                )
        _TL_SHARED.cache = cache
        return self

    def __exit__(self, *exc):
        _TL_SHARED.cache = self._prev


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table.

    The events table's on-disk timestamp layout has shifted across driver
    releases: TIMESTAMP(NANOS) (read nanos-as-long and rebuild), then
    timestamp[us] with no tz, which Spark 4 surfaces as TIMESTAMP_NTZ.
    Downstream operators use `F.unix_micros` / window functions that
    require TIMESTAMP, so normalize every layout to TIMESTAMP here, at the
    one load boundary. Session timezone is pinned to UTC, so the NTZ ->
    LTZ cast is value-preserving (wall clock == instant) and rendering is
    engine-independent (matches DuckDB's naive-timestamp view)."""
    cache = getattr(_TL_SHARED, "cache", None)
    if cache is not None:
        got = cache.get((spark, sf_dir, name))
        if got is not None:
            return got
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        import pyspark.sql.functions as F

        # integer division: double division loses ulps at 1e18 ns scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(df)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    With the session timezone pinned to UTC the cast is a metadata-only
    reinterpretation (no value change), and it keeps the whole operator
    surface on the one timestamp type `unix_micros` & friends accept.
    Applied per-column via select so Catalyst still prunes/pushes down."""
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    import pyspark.sql.functions as F

    return df.select(
        *[
            F.col(c).cast("timestamp").alias(c) if c in ntz_cols else F.col(c)
            for c in df.columns
        ]
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view, enabling the spark.sql surface
    (reference's raw-SQL path, src/blq/storage.py:560-582)."""
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)
