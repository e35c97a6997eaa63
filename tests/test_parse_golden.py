"""Golden reference for the rule-table formats (pure Python, no Spark).

Every stateless single-line format is one row of `logparse._ROWS`, and
both parsers — the Python matcher in `logparse.FORMATS` and the Column
rule in `logparse_fast.FAST_FORMATS` — are compiled from that row. The
JVM-vs-Python sweeps therefore only show that the two compilers agree
with each other. This module keeps an independent reference for the
rows themselves: `tests/data/parse_golden.json` holds, for every row
format, a hash of the sorted `parse_content(doc, fmt)` rows of each of
its fixtures and of its fuzz documents, recorded from the hand-written
parsers the rows replaced.
"""

from __future__ import annotations

import hashlib
import json
import os

from blq_cli_spark.sources import logparse as lp
from tests import test_logparse as fx
from tests.test_logparse_fast import CASES, _python_rows
from tests.test_logparse_fuzz import _fuzz_docs

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "parse_golden.json")

_BATCHES = {
    "BATCH4_LOGS": fx.BATCH4_LOGS,
    "BATCH5_SIMPLE": fx.BATCH5_SIMPLE,
    "BATCH6_SIMPLE": fx.BATCH6_SIMPLE,
    "BATCH7_SIMPLE": fx.BATCH7_SIMPLE,
    "BATCH8_SIMPLE": fx.BATCH8_SIMPLE,
}


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]


def _doc_sets(fmt: str) -> dict[str, list[tuple[str, str]]]:
    """Every fixture and fuzz document set of one format, by label."""
    sets = {f"CASES[{i}]": [("d", doc)] for i, doc in enumerate(CASES[fmt])}
    for name, table in _BATCHES.items():
        if fmt in table:
            sets[name] = [("d", table[fmt][0])]
    for seed in (0, 1):
        sets[f"fuzz{seed}"] = _fuzz_docs(fmt, seed=seed)
    return sets


def golden_hashes(formats) -> dict[str, dict[str, str]]:
    return {
        fmt: {label: _digest(_python_rows(docs, fmt)) for label, docs in _doc_sets(fmt).items()}
        for fmt in sorted(formats)
    }


def _load() -> dict[str, dict[str, str]]:
    with open(GOLDEN) as fh:
        return json.load(fh)


def test_golden_covers_every_row_format():
    assert sorted(_load()) == sorted(r.key for r in lp._ROWS)


def test_row_formats_match_golden():
    want = _load()
    got = golden_hashes(want)
    bad = {
        fmt: sorted(k for k in want[fmt] if got[fmt].get(k) != want[fmt][k])
        for fmt in want
        if got[fmt] != want[fmt]
    }
    assert not bad, bad
