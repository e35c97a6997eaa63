"""The bench stdout record must survive the driver's bounded tail
capture (round 9, VERDICT r8 ask #8): no per-query maps on the line,
length asserted far below the ~2000-char window even for a suite twice
today's size."""

import json
import sys

import bench


def _fake_full_record(n_queries: int) -> dict:
    qnames = [f"x_query_with_a_long_name_{i:02d}" for i in range(n_queries)]
    qmap = {n: 12.345 for n in qnames}
    return {
        "metric": "headline_suite_wall_clock",
        "value": 123.456,
        "unit": "sec",
        "queries": dict(qmap),
        "sf": 0.1,
        "calib_ms": 55.5,
        "calib_ref_ms": 50.9,
        "value_calib_normalized": 113.2,
        "comparable_18_calib_normalized": 7.123,
        "bench_passes": 2,
        "queries_min": dict(qmap),
        "variance_pct": {n: 12.3 for n in qnames},
        "shuffle_calib_s": 1.234,
        "shuffle_ref_s": 1.111,
        "queries_shuffle_normalized": dict(qmap),
        "comparable_18_shuffle_normalized": 6.654,
        "anchor_ratio_vs_r2": {n: 1.01 for n in qnames},
        "anchor_ratio_median": 0.93,
        "anchor_ratio_worst": 1.15,
        "anchor_ratio_vs_r7": {n: 1.0 for n in qnames},
        "anchor_ratio_vs_r7_median": 0.96,
        "anchor_ratio_vs_r7_worst": 1.23,
    }


def test_compact_record_fits_tail_window():
    for n in (26, 60):  # today's suite and ~2x growth
        compact = bench._compact_record(_fake_full_record(n), "/x/bench_full.json")
        line = json.dumps(compact)
        assert len(line) < 1500, (n, len(line))
        # no per-query map survives on the line
        assert not any(isinstance(v, dict) for v in compact.values())
        # the scalars the judge compares rounds on are all present
        for key in (
            "metric", "value", "unit", "sf", "bench_passes",
            "value_calib_normalized", "comparable_18_calib_normalized",
            "comparable_18_shuffle_normalized", "anchor_ratio_median",
            "anchor_ratio_worst", "anchor_ratio_vs_r7_median",
            "anchor_ratio_vs_r7_worst", "full_record", "n_queries",
        ):
            assert key in compact, key
        assert compact["n_queries"] == n
        assert compact["full_record"] == "bench_full.json"


def test_tail_window_fits_per_query_lines_with_release_enabled():
    """Round 11 (VERDICT r10 ask #1): with the between-queries block
    release enabled, the ONLY things bench emits after warmup are the
    pass-1 per-query stderr lines, the JSON record, and two calib
    comment lines — the release itself must be silent (checkpoint_scope
    frees through SparkContext.unpersistRDD, which logs no per-block
    WARN; one such WARN per released block buried the whole per-query
    table in round 10). Assert the silent-path output block fits a
    driver tail window even at 2x today's suite size."""
    import io
    from contextlib import redirect_stderr, redirect_stdout

    for n in (26, 52):  # today's suite and 2x growth
        qnames = [f"x_query_with_a_long_name_{i:02d}" for i in range(n)]
        out, err = io.StringIO(), io.StringIO()
        with redirect_stdout(out), redirect_stderr(err):
            for q in qnames:
                # exact format string from bench.main's pass-0 loop
                print(f"# {q}: {123.456:.3f}s ({10**7} rows)", file=sys.stderr)
            compact = bench._compact_record(
                _fake_full_record(n), "/x/bench_full.json"
            )
            print(json.dumps(compact), flush=True)
            print("# calib_ms=55.5 (ref 50.0) -> normalization x0.901", file=sys.stderr)
            print(
                "# shuffle_calib_s=1.427 (ref 0.89) -> normalization x0.624; "
                "vs r2 anchor: median 0.94 worst 1.13; vs r7 anchor: "
                "median 0.95 worst 1.21",
                file=sys.stderr,
            )
        block = err.getvalue() + out.getvalue()
        # zero WARN lines may appear between the per-query lines and the
        # record (the release is silenced); every emitted line is either
        # a '# ' comment or the JSON record
        for line in block.splitlines():
            assert line.startswith("#") or line.startswith("{"), line
        # per-query lines stay short enough that a bounded tail keeps
        # many of them alongside the <1500-char JSON line
        per_q = [
            l for l in err.getvalue().splitlines()
            if l.startswith("# x_query")
        ]
        assert len(per_q) == n
        assert all(len(l) < 70 for l in per_q)
        # the JSON line + trailing comments + the last 15 query lines
        # (what the driver minimally needs for a populated per_query)
        tail_essentials = (
            "\n".join(per_q[-15:]) + "\n" + json.dumps(compact) + "\n"
            + "\n".join(err.getvalue().splitlines()[-2:])
        )
        assert len(tail_essentials) < 2600, (n, len(tail_essentials))
