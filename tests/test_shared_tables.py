"""`sources.tables.shared_tables` must hand back the previous thread-local
override on every exit path: when a member build inside the context
raises, and when contexts nest; and it must key its entries by session.
The table loader is stubbed, so no
Spark job runs; the real `table()` is called only for its cache lookup,
which returns before it touches the session."""

from __future__ import annotations

import pytest

from blq_cli_spark.sources import tables as T

_real_table = T.table


class _Frame:
    """Stands in for a DataFrame: localCheckpoint returns itself."""

    def __init__(self, name: str):
        self.name = name

    def localCheckpoint(self, eager: bool):
        return self


@pytest.fixture()
def stub_loader(monkeypatch):
    monkeypatch.setattr(T, "table", lambda spark, sf_dir, name: _Frame(name))


def _override():
    return getattr(T._TL_SHARED, "cache", None)


def test_shared_tables_restores_override_when_member_raises(stub_loader):
    before = _override()
    with pytest.raises(RuntimeError, match="member build failed"):
        with T.shared_tables(None, "sf", ("events",)):
            assert _real_table(None, "sf", "events").name == "events"
            raise RuntimeError("member build failed")
    assert _override() is before


def test_shared_tables_nested_contexts_unwind_in_order(stub_loader):
    before = _override()
    with T.shared_tables(None, "sf", ("events",)):
        outer = _real_table(None, "sf", "events")
        outer_cache = _override()
        with T.shared_tables(None, "sf", ("events", "documents")):
            # the inner context reuses the outer materialization
            assert _real_table(None, "sf", "events") is outer
            assert _real_table(None, "sf", "documents").name == "documents"
        assert _override() is outer_cache
        assert set(outer_cache) == {(None, "sf", "events")}
        with pytest.raises(RuntimeError):
            with T.shared_tables(None, "sf", ("documents",)):
                raise RuntimeError("inner member failed")
        assert _override() is outer_cache
    assert _override() is before


def test_shared_tables_keyed_by_session(monkeypatch):
    """A nested context over the same (sf_dir, name) for ANOTHER session
    materializes that session's own table instead of serving the outer
    session's checkpoint."""
    loads = []

    def _load(spark, sf_dir, name):
        loads.append(spark)
        return _Frame(name)

    monkeypatch.setattr(T, "table", _load)
    first, second = object(), object()
    with T.shared_tables(first, "sf", ("events",)):
        outer = _real_table(first, "sf", "events")
        with T.shared_tables(second, "sf", ("events",)):
            inner = _real_table(second, "sf", "events")
            assert inner is not outer
            assert _real_table(first, "sf", "events") is outer
    assert loads == [first, second]
