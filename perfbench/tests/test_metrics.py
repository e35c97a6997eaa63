import json
import os

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_the_printed_metrics():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    assert len(b["per_layer"]) <= 128


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_workloads_match_the_entry_point():
    import run

    assert tuple(w["name"] for w in _bench()["workloads"]) == run.WORKLOADS
