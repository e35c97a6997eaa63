"""Parity and job-count pins for the run-scoped report and diff reads.

`services.report_data` and `views.diff_fingerprints` are checked against
golden outputs (`tests/data/report_parity_golden.json`) that were
recorded from the join-based implementation they replace, on a small
store built to hit the edge cases: errors and warnings with a null
fingerprint, a tie in the by-file counts, a baseline equal to the run,
a baseline serial that does not exist, a run with no events, a run
with only info-level events, the default (latest) run and a run serial
that is absent. `diff_fingerprints` is also checked against DuckDB SQL
over the same parquet files, and the Spark jobs both reads launch are
counted against the join-based implementation's counts on this store.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb
import pytest

from blq_cli_spark import services
from blq_cli_spark.operators import views
from blq_cli_spark.sources.store import LogStore

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "report_parity_golden.json")

_T0 = dt.datetime(2026, 4, 1, 9, 0, 0)


def _ev(severity, fingerprint, ref_file, msg, line=None, code=None):
    return {
        "severity": severity, "fingerprint": fingerprint, "ref_file": ref_file,
        "message": msg, "ref_line": line, "code": code, "tool_name": "gcc",
        "category": "compile",
    }


# serial -> events; errors of run 2 tie 2:2 on f1.c / f2.c, and run 2 warns
# on fingerprint "b", which is an error in run 1 (baseline sets are
# error-only, so "b" still counts as fixed)
EDGE_RUNS = {
    1: [
        _ev("error", "a", "f1.c", "a in f1", 10, "E1"),
        _ev("error", "b", "f2.c", "b in f2", 20),
        _ev("error", "c", "f1.c", "c in f1", 30, "E2"),
        _ev("error", None, "f3.c", "anon error f3", 40),
        _ev("error", None, None, "anon error, no file"),
        _ev("warning", "w1", "f1.c", "w1 in f1", 5),
        _ev("warning", None, "f2.c", "anon warning f2"),
        _ev("warning", "w2", "f2.c", "w2 in f2", 6),
        _ev("info", "a", "f1.c", "info a"),
    ],
    2: [
        _ev("error", "a", "f1.c", "a again", 11, "E1"),
        _ev("error", "d", "f2.c", "d first", 21),
        _ev("error", "d", "f2.c", "d second", 22),
        _ev("error", None, "f1.c", "anon error f1", 12),
        _ev("error", "e", "f3.c", "e in f3", 31, "E3"),
        _ev("warning", "w1", "f2.c", "w1 moved"),
        _ev("warning", None, "f1.c", "anon warning f1"),
        _ev("warning", "b", "f3.c", "b demoted to warning"),
        _ev("note", "d", "f2.c", "note d"),
    ],
    3: [],
    4: [_ev("info", "i", "f9.c", "info only"), _ev("debug", None, None, "debug only")],
    5: [
        _ev("error", "e", "f3.c", "e persists", 31),
        _ev("error", "g", None, "g without file"),
        _ev("warning", "w3", "f4.c", "w3 new"),
    ],
}

REPORT_CASES = [
    {},
    {"baseline_serial": 2},
    {"run_serial": 2, "baseline_serial": 1},
    {"run_serial": 2, "baseline_serial": 2},
    {"run_serial": 1, "baseline_serial": 1},
    {"run_serial": 2, "baseline_serial": 99},
    {"run_serial": 3, "baseline_serial": 1},
    {"run_serial": 1, "baseline_serial": 3},
    {"run_serial": 4, "baseline_serial": 2},
    {"run_serial": 1, "baseline_serial": 2},
    {"run_serial": 5},
    {"run_serial": 42},
    {"run_serial": 42, "baseline_serial": 1},
    {"run_serial": 2, "baseline_serial": 1, "error_limit": 2, "file_limit": 1},
    {"run_serial": 1, "baseline_serial": 2, "error_limit": 1, "file_limit": 1},
    {"run_serial": 2, "baseline_serial": 2, "error_limit": 1, "file_limit": 0},
]

DIFF_CASES = [(1, 2), (2, 1), (2, 2), (1, 5), (2, 5), (3, 1), (1, 3), (3, 3),
              (4, 2), (1, 99), (99, 1)]


def _case_id(kwargs: dict) -> str:
    return ",".join(f"{k}={v}" for k, v in sorted(kwargs.items())) or "default"


def build_edge_store(spark, root: str) -> LogStore:
    st = LogStore(spark, root)
    for serial, events in EDGE_RUNS.items():
        ts = _T0 + dt.timedelta(hours=serial)
        st.append_run(
            {
                "id": f"edge-{serial}", "run_serial": serial, "timestamp": ts,
                "source_name": f"src{serial % 2}", "exit_code": serial % 2,
                "git_branch": "main", "git_commit": f"c{serial:039d}",
                "date": ts.date(),
            },
            events,
        )
    return st


def report_json(st: LogStore, kwargs: dict) -> dict:
    """report_data through a JSON round trip, as the golden file holds it."""
    return json.loads(json.dumps(services.report_data(st, **kwargs), default=str))


def diff_rows(st: LogStore, s1: int, s2: int) -> list[list]:
    d = views.diff_fingerprints(st.events_flat(), s1, s2)
    return sorted([r["fingerprint"], r["change"]] for r in d.collect())


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    return build_edge_store(spark, str(tmp_path_factory.mktemp("report_parity") / "bird"))


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.mark.parametrize("kwargs", REPORT_CASES, ids=_case_id)
def test_report_data_matches_golden(edge, golden, kwargs):
    assert report_json(edge, kwargs) == golden["report"][_case_id(kwargs)]


def test_report_data_baseline_equal_to_run_keeps_null_fingerprint_fixed(edge):
    """With baseline == run, every fingerprinted error is in both sets, so
    new and fixed are exactly the run's null-fingerprint errors; a row
    tagged `new` must still be tagged `fixed` as well."""
    d = services.report_data(edge, run_serial=2, baseline_serial=2)
    anon = [{"ref_file": "f1.c", "ref_line": 12, "message": "anon error f1",
             "code": None, "fingerprint": None}]
    assert d["new_errors"] == anon and d["fixed_errors"] == anon
    assert d["baseline_errors"] == d["total_errors"] == 5


def test_report_data_serials_given_as_strings(edge):
    """Tool arguments arrive as JSON; a serial sent as a string still
    names the run, as it did when the filter ran in Spark."""
    assert services.report_data(edge, run_serial="2", baseline_serial="1") == (
        services.report_data(edge, run_serial=2, baseline_serial=1)
    )


def test_report_data_empty_store(spark, tmp_path):
    st = LogStore(spark, str(tmp_path / "empty"))
    assert services.report_data(st) == {"run_serial": None}
    assert services.report_data(st, run_serial=1, baseline_serial=2) == {"run_serial": None}


@pytest.mark.parametrize("s1,s2", DIFF_CASES, ids=lambda v: str(v))
def test_diff_fingerprints_matches_golden(edge, golden, s1, s2):
    assert diff_rows(edge, s1, s2) == golden["diff"][f"{s1},{s2}"]


def test_diff_fingerprints_matches_duckdb(edge):
    con = duckdb.connect()
    for t in ("runs", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{os.path.join(edge.root, t)}/*/*.parquet', hive_partitioning=1)"
        )
    sql = """
        WITH f AS (
          SELECT DISTINCT r.run_serial, e.fingerprint
          FROM events e JOIN runs r ON e.invocation_id = r.id
          WHERE e.fingerprint IS NOT NULL),
        a AS (SELECT fingerprint FROM f WHERE run_serial = $s1),
        b AS (SELECT fingerprint FROM f WHERE run_serial = $s2)
        SELECT fingerprint, 'new' FROM b WHERE fingerprint NOT IN (SELECT * FROM a)
        UNION ALL
        SELECT fingerprint, 'fixed' FROM a WHERE fingerprint NOT IN (SELECT * FROM b)
        UNION ALL
        SELECT fingerprint, 'unchanged' FROM b WHERE fingerprint IN (SELECT * FROM a)
    """
    for s1, s2 in DIFF_CASES:
        want = sorted(list(r) for r in con.execute(sql, {"s1": s1, "s2": s2}).fetchall())
        assert diff_rows(edge, s1, s2) == want, (s1, s2)


def test_report_query_plan_is_one_bounded_scan(edge, monkeypatch):
    """The report's one query reads `events` once, bounds each tag with a
    partial WindowGroupLimit before the window's exchange, and leaves no
    RDD persistent."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    collect = DataFrame.collect

    def recording_collect(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    services.report_data(edge, run_serial=2, baseline_serial=1)
    final = plans[-1].split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1 and "/events]" in final
    assert "row_number(), 20, Partial" in final
    assert not edge.spark.sparkContext._jsc.getPersistentRDDs()


# Spark jobs each read launched on this store with the join-based
# implementation (report_data rescanned and re-joined the events table
# per piece; diff_fingerprints scanned it six times for three joins).
JOINED_JOBS = {"report_data": 33, "ci_check": 9}


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_report_and_ci_check_job_counts(spark, edge):
    report = _jobs_in_group(
        spark, "parity-report",
        lambda: services.report_data(edge, run_serial=2, baseline_serial=1),
    )
    ci = _jobs_in_group(spark, "parity-ci", lambda: services.ci_check(edge, 1, 2))
    print(f"report_data jobs={report} ci_check jobs={ci}")
    assert report <= JOINED_JOBS["report_data"] // 2, report
    assert ci <= JOINED_JOBS["ci_check"] // 2, ci
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
