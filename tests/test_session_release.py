"""checkpoint_scope: the per-query block release.

Checkpoint-bearing operators (minhash signatures, banded bucket sizing,
the CC frontier, the bucketed-SemDeDup skinny assignment, IVF appends,
shared_tables) leave localCheckpoint blocks in the executor block
managers until something frees them — Spark does not when the DataFrame
goes out of Python scope. A query wrapped in checkpoint_scope frees
exactly the RDDs registered inside it, and nothing that was there
before: a user's cache and an outer scope's blocks survive.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blq_cli_spark.session import (
    checkpoint_scope,
    persistent_rdd_ids,
    unpersist_rdds,
)


def _pinned(spark, df):
    """`df` checkpointed eagerly, plus the RDD ids that registered."""
    before = persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    return out, persistent_rdd_ids(spark) - before


def test_scope_frees_only_blocks_created_inside(spark):
    outside, outside_ids = _pinned(spark, spark.range(1000))
    with checkpoint_scope(spark):
        eager, eager_ids = _pinned(spark, spark.range(100))
        before = persistent_rdd_ids(spark)
        lazy = spark.range(10).withColumn("x", F.lit(1)).localCheckpoint(
            eager=False
        )
        lazy_ids = persistent_rdd_ids(spark) - before
        assert lazy.count() == 10  # materialize the lazy one
        assert eager_ids and lazy_ids
    held = persistent_rdd_ids(spark)
    assert not (eager_ids | lazy_ids) & held
    assert outside_ids <= held
    assert outside.count() == 1000  # its blocks are still readable
    unpersist_rdds(spark, outside_ids)


def test_user_cache_survives_scope(spark):
    user = spark.range(500).cache()
    before = persistent_rdd_ids(spark)
    assert user.count() == 500
    user_ids = persistent_rdd_ids(spark) - before
    assert user_ids
    with checkpoint_scope(spark):
        _pinned(spark, spark.range(100))
    assert user_ids <= persistent_rdd_ids(spark)
    assert user.is_cached and user.count() == 500
    user.unpersist()


def test_nested_scopes_free_inner_then_outer(spark):
    with checkpoint_scope(spark):
        _outer, outer_ids = _pinned(spark, spark.range(100))
        with checkpoint_scope(spark):
            _inner, inner_ids = _pinned(spark, spark.range(50))
        held = persistent_rdd_ids(spark)
        assert not inner_ids & held
        assert outer_ids <= held
    assert not outer_ids & persistent_rdd_ids(spark)


def test_scope_releases_when_body_raises(spark):
    ids: set[int] = set()
    with pytest.raises(RuntimeError, match="query failed"):
        with checkpoint_scope(spark):
            _df, ids = _pinned(spark, spark.range(100))
            raise RuntimeError("query failed")
    assert ids and not ids & persistent_rdd_ids(spark)


def test_scope_frees_nothing_while_a_stream_is_active(spark):
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .trigger(processingTime="1 hour")
        .start()
    )
    try:
        with checkpoint_scope(spark):
            _df, ids = _pinned(spark, spark.range(100))
        assert ids and ids <= persistent_rdd_ids(spark)
    finally:
        q.stop()
    unpersist_rdds(spark, ids)


def test_session_fully_usable_after_release(spark):
    with checkpoint_scope(spark):
        spark.range(100).localCheckpoint(eager=True)
    # fresh work — including a NEW checkpoint — runs normally
    df = spark.range(50).groupBy((F.col("id") % 5).alias("k")).count()
    assert df.count() == 5
    with checkpoint_scope(spark):
        again = spark.range(20).localCheckpoint(eager=True)
        assert again.count() == 20


def test_release_is_idempotent_and_safe_on_empty_session(spark):
    before = persistent_rdd_ids(spark)
    with checkpoint_scope(spark):
        with checkpoint_scope(spark):
            pass
    assert persistent_rdd_ids(spark) == before


def test_release_is_noop_without_jvm_gateway():
    """Connect-shaped sessions (no sparkContext._jsc): the scope and
    both helpers are no-ops, not a py4j AttributeError on the query
    path. Covers a client without `sparkContext`, one whose
    `sparkContext` raises something other than AttributeError (as
    older Connect clients do), a context without `_jsc`, and no
    session at all."""

    class _ConnectishSession:
        pass  # no sparkContext attribute at all, like pyspark.sql.connect

    class _RaisingSession:
        @property
        def sparkContext(self):
            raise NotImplementedError("sparkContext() is not supported")

    class _NoGatewayContext:
        sparkContext = object()  # has no _jsc

    for stub in (_ConnectishSession(), _RaisingSession(), _NoGatewayContext(), None):
        assert persistent_rdd_ids(stub) == set()
        unpersist_rdds(stub, {1, 2})
        with pytest.raises(RuntimeError):
            with checkpoint_scope(stub):
                raise RuntimeError("body error propagates unchanged")
