"""The plan guard on physical plans captured from a real session over
generated sf0.001 tables: the noop-sink plans of x_html_extract and q3,
x_html_extract's plan under a global count, and a bare table scan."""

import json
import os

import batch

with open(os.path.join(os.path.dirname(__file__), "data", "plans.json")) as fh:
    PLANS = json.load(fh)


def test_sink_plans_pass():
    assert batch.collapsed(PLANS["x_html_extract_sink"]) is None
    assert batch.collapsed(PLANS["q3_sink"]) is None


def test_count_collapse_is_caught():
    assert batch.collapsed(PLANS["x_html_extract_count"]) == "bare count"


def test_bare_scan_is_caught():
    assert batch.collapsed(PLANS["documents_scan"]) == "bare scan"

