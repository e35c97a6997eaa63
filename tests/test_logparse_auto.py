"""JVM auto-detect parse path (logparse_fast.fast_parse_auto_df,
round 8): per-document detection must replicate logparse.diagnose /
detect_format EXACTLY, the candidate prefilters must never exclude a
document a format can parse, and the batch plan must contain zero
Python execution."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from blq_cli_spark.sources import logparse as lp
from blq_cli_spark.sources import logparse_fast as lpf
from tests.test_logparse_fast import CASES, _COLS, _python_rows
from tests.test_logparse_fuzz import _fuzz_docs


def _auto_rows(spark, docs):
    df = spark.createDataFrame(docs, "source_id string, content string")
    rows = lpf.fast_parse_auto_df(df).collect()
    return sorted(tuple(r[k] for k in _COLS) for r in rows)


def _py_auto_rows(docs):
    return _python_rows(docs, "auto")


def test_catalogs_coincide():
    """The JVM detector scores FAST_FORMATS; Python's diagnose scores
    FORMATS — auto-equivalence requires the catalogs to be identical
    (parse_df checks this at runtime before routing)."""
    assert set(lp.FORMATS) == set(lpf.FAST_FORMATS)


def test_candidate_prefilters_sound_on_all_fixtures(spark):
    """Soundness contract of _AUTO_PRE: every (document, format) pair
    that diagnose SCORES (>=1 event) must be admitted by the format's
    doc-level candidate prefilter — a missed candidate silently changes
    detection. Swept over every fixture document of every format."""
    docs, i = [], 0
    for fmt, fixtures in CASES.items():
        for c in fixtures:
            docs.append((f"{fmt}-{i}", c))
            i += 1
    df = spark.createDataFrame(docs, "source_id string, content string")
    cand = lpf._auto_candidate_exprs(F.coalesce(F.col("content"), F.lit("")))
    got = {
        r["source_id"]: r
        for r in df.select(
            "source_id", *[c.alias(f) for f, c in cand.items()]
        ).collect()
    }
    missed = []
    for sid, c in docs:
        for fmt, n_events, _conf in lp.diagnose(c):
            if not got[sid][fmt]:
                missed.append((sid, fmt, n_events))
    assert not missed, missed[:10]


def test_auto_mixed_corpus_row_identity(spark):
    """The done-criterion fixture (VERDICT r7 ask #3): a corpus mixing
    >=3 formats plus a generic-fallback document, an empty document and
    a NULL content row must be row-identical to the Python auto path."""
    picks = [
        "gcc", "pytest", "cargo_test", "checkov", "valgrind", "tap",
        "rustc", "phpunit", "mypy", "javac",
        # eslint AND jest together pin the carry-column clobber
        # (both formats chain; their file carries must not collide)
        "eslint", "jest",
    ]
    docs = [(f, CASES[f][0]) for f in picks]
    docs += [
        ("fb", "no compiler lines here\nbut one error: fell back to generic\n"),
        ("empty", ""),
        ("null", None),
    ]
    got = _auto_rows(spark, docs)
    want = _py_auto_rows([(s, c or "") for s, c in docs])
    assert got == want
    # at least the picked formats were detected (not everything generic)
    used = {r[-1] for r in got}
    assert {"gcc", "pytest", "checkov", "generic"} <= used


def test_auto_plan_zero_python(spark):
    """The parse_df('auto') batch plan must carry no Python stages —
    the whole point of the JVM detection path."""
    docs = [(f, CASES[f][0]) for f in ("gcc", "tap", "valgrind")]
    df = spark.createDataFrame(docs, "source_id string, content string")
    out = lp.parse_df(df, fmt="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "EvalPython", "ArrowEval", "BatchEvalPython"):
        assert marker not in plan


def test_auto_matches_explicit_on_clean_corpus(spark):
    """On a single-format corpus, auto must both detect that format and
    produce exactly the explicit-format events."""
    docs = [("d0", CASES["gcc"][0]), ("d1", CASES["gcc"][0])]
    auto = _auto_rows(spark, docs)
    df = spark.createDataFrame(docs, "source_id string, content string")
    explicit = sorted(
        tuple(r[k] for k in _COLS)
        for r in lpf.fast_parse_df(df, "gcc").collect()
    )
    assert auto == explicit
    assert all(r[-1] == "gcc" for r in auto)


@pytest.mark.parametrize(
    "fmt",
    ["gcc", "cargo_test", "python_traceback", "junit_xml", "latex",
     "gitleaks", "googletest", "eslint"],
)
def test_auto_fuzz_parity(spark, fmt):
    """Adversarial line-mix documents (the test_logparse_fuzz corpus)
    through BOTH auto engines: detection ranking and the winning
    format's events must agree even on cross-contaminated input.
    (An offline round-8 sweep ran this for ALL 110 formats' fuzz docs —
    clean; the suite keeps a representative eight.)"""
    docs = _fuzz_docs(fmt)
    assert _auto_rows(spark, docs) == _py_auto_rows(docs)


def _registry() -> dict:
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "data", "format_registry.json")
    with open(path) as fh:
        return json.load(fh)


def test_format_registry_order_pinned():
    """Both engines break diagnose ties by registry position, so the
    key order of FORMATS and FAST_FORMATS is part of the contract."""
    reg = _registry()
    assert list(lp.FORMATS) == reg["formats"]
    assert list(lpf.FAST_FORMATS) == reg["fast_formats"]


def test_census_atom_order_pinned(spark):
    """The presence census packs its literal atoms into bigint bits in
    registration order (_auto_presence_program), so the order in which
    the candidate prefilters register them is pinned as well."""
    atoms: dict = {}
    with lpf._doc_prefilter_mode(F.col("content"), atoms=atoms):
        for fmt in lpf.FAST_FORMATS:
            if fmt != "generic":
                lpf._AUTO_PRE[fmt]()
    assert [list(k) for k in atoms] == _registry()["census_atoms"]


def test_staging_column_names_unique_across_formats(spark):
    """fast_parse_auto_df chains EVERY present per-line format's staging
    onto one line table, so two formats sharing a column name silently
    clobber each other (fuzz/auto-found: pytest and python_traceback
    both staged '_g_pytf'; eslint's and jest's file-header carries were
    both 'cur_file'). Check every name each per-line format's plan
    records — staged groups and carries alike, since a builder adds
    both through the recorder's withColumn; rule-row formats generate
    theirs — and assert each is owned by exactly one format."""
    owners: dict[str, set[str]] = {}
    for fmt in lpf.FAST_FORMATS:
        if fmt in lpf._DF_BUILDERS:
            continue
        staging, _rules = lpf._format_plan(fmt, None)
        for name, _expr in staging:
            owners.setdefault(name, set()).add(fmt)
    dupes = {c: fmts for c, fmts in owners.items() if len(fmts) > 1}
    assert not dupes, dupes


def test_carry_column_names_unique_across_per_line_formats():
    """Same clobber class, second channel (auto/gate-found: eslint's and
    jest's file-header carry both named 'cur_file', so chaining both
    silently nulled eslint's ref_file): EVERY withColumn name a
    PER-LINE rule function introduces must be unique across the chained
    set. The chain drivers stage their own columns on the same line
    table, so they count as one more owner. DF-builder formats run on
    their own line table and may reuse names; they are excluded."""
    import ast
    import inspect

    builder_fns = {f.__name__ for f in lpf._DF_BUILDERS.values()}
    drivers = {lpf.fast_parse_df.__name__, lpf.fast_parse_auto_df.__name__}
    owners: dict[str, set[str]] = {}
    for fn in ast.parse(inspect.getsource(lpf)).body:
        if not isinstance(fn, ast.FunctionDef) or fn.name in builder_fns:
            continue
        if fn.name in drivers:
            owner = "chain driver"
        elif fn.name.startswith(("_r_", "_f_")):
            owner = fn.name
        else:
            continue
        # every `<df>.withColumn("<const>", ...)` call in the body, nested
        # helpers included, however the call is wrapped across lines
        for call in ast.walk(fn):
            if (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "withColumn"
                and call.args
                and isinstance(call.args[0], ast.Constant)
                and isinstance(call.args[0].value, str)
            ):
                owners.setdefault(call.args[0].value, set()).add(owner)
    dupes = {c: fns for c, fns in owners.items() if len(fns) > 1}
    assert owners and not dupes, dupes


def test_presence_program_is_superset_of_candidates(spark):
    """Round 9: the bit-packed presence census (_auto_presence_program)
    must be a per-document SUPERSET of the exact candidate exprs — for
    every fixture document and every format, candidate-true implies
    presence-predicate-true on that document's own atom bits (AND
    distributes monotonically; a false negative here would silently
    drop a format from the parse plan)."""
    docs, i = [], 0
    for fmt, fixtures in CASES.items():
        for c in fixtures:
            docs.append((f"{fmt}-{i}", c))
            i += 1
    df = spark.createDataFrame(docs, "source_id string, content string")
    content = F.coalesce(F.col("content"), F.lit(""))
    cand = lpf._auto_candidate_exprs(content)
    atom_names, packs, preds, _bit_cols = lpf._auto_presence_program(content)
    assert set(preds) == set(cand)
    rows = df.select(
        "source_id",
        *[c.alias(f"c_{f}") for f, c in cand.items()],
        *packs,
    ).collect()
    bad = []
    for r in rows:
        atom_on = {
            n: bool(((r[f"_pack{j // 62}"] or 0) >> (j % 62)) & 1)
            for j, n in enumerate(atom_names)
        }
        for fmt in cand:
            if r[f"c_{fmt}"] and not preds[fmt].fn(atom_on):
                bad.append((r["source_id"], fmt))
    assert not bad, bad[:10]


def test_bit_derived_flags_match_candidate_exprs(spark):
    """Round 11 (census fusion): the gated parse now derives each
    document's per-format candidate flags from its packed atom bits
    (the _PAtom Column twins over bit tests) instead of re-scanning
    content with _auto_candidate_exprs. The two must agree on every
    fixture document and every format — the twins are the SAME boolean
    tree, so any divergence is a packing/bit-index bug that would
    silently re-route detection."""
    docs, i = [], 0
    for fmt, fixtures in CASES.items():
        for c in fixtures:
            docs.append((f"{fmt}-{i}", c))
            i += 1
    df = spark.createDataFrame(docs, "source_id string, content string")
    content = F.coalesce(F.col("content"), F.lit(""))
    cand = lpf._auto_candidate_exprs(content)
    _names, packs, preds, bit_cols = lpf._auto_presence_program(content)
    probes = lpf._DOC_PROBE
    staged = df.select("source_id", "content", *packs).withColumns(bit_cols)
    got = staged.select(
        "source_id",
        *[
            (
                preds[f].col & content.rlike(probes[f])
                if f in probes
                else preds[f].col
            ).alias(f"b_{f}")
            for f in preds
        ],
        *[c.alias(f"c_{f}") for f, c in cand.items()],
    ).collect()
    bad = [
        (r["source_id"], f)
        for r in got
        for f in preds
        if bool(r[f"b_{f}"]) != bool(r[f"c_{f}"])
    ]
    assert not bad, bad[:10]


def test_auto_single_corpus_scan(spark):
    """Round 11 (census fusion, VERDICT r10 ask #3 done-criterion): the
    parse side of fast_parse_auto_df starts from the checkpointed fused
    scan — its executed plan contains NO second scan of the input
    relation (the only scans are the checkpoint RDD), and exactly one
    line explode feeds the per-line rule pass."""
    docs = [(f, CASES[f][0]) for f in ("gcc", "tap", "valgrind")]
    df = spark.createDataFrame(docs, "source_id string, content string")
    out = lpf.fast_parse_auto_df(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus enters via the localCheckpoint (Scan ExistingRDD); the
    # original in-memory relation must not be re-scanned for flags
    assert "Scan ExistingRDD" in plan
    assert "LocalTableScan" not in plan and "Scan parquet" not in plan


@pytest.mark.heavy  # round 11 (VERDICT r10 ask #2): 29 s 110-format staging-analysis sweep, opt-in tier
def test_apply_staging_layering_analyzes_every_format_plan(spark):
    """Round 10 (ADVICE r9 #1): _apply_staging layers batched
    withColumns by checking whether a staged name appears in
    repr(expr) — an implicit dependency detection that relies on
    PySpark's Column repr surfacing referenced column names. If a repr
    format change ever hides a reference, a dependent staging column
    co-batches with its producer and the plan fails AT ANALYSIS. Build
    every (format, gate) staging plan and analyze it (plus every rule
    condition/event expr) against a dummy line table so that breakage
    is loud here, not inside a driver run."""
    lines = spark.createDataFrame(
        [("d1", 1, "x: 1 error")],
        "source_id string, line_no int, line string",
    ).withColumn("_cand_probe", F.lit(True))
    # gate=None covers EVERY per-line format (these plans are the ones
    # fast_parse_df uses and are warm from the rest of the suite); the
    # gated variants only wrap each prefilter with `flag & ...`, which
    # cannot change whether a staged name appears in repr, so a
    # representative multi-staging subset suffices there (building all
    # 110 gated plans cold cost ~40 s of py4j for no extra layering
    # coverage)
    gated_sample = ("vitest", "elixir", "stylelint", "gcc", "eslint")
    cases = [(fmt, None) for fmt in lpf.FAST_FORMATS] + [
        (fmt, "_cand_probe") for fmt in gated_sample
    ]
    for fmt, gate in cases:
        if fmt in lpf._DF_BUILDERS:
            continue
        pend, rules = lpf._format_plan(fmt, gate)
        staged = lpf._apply_staging(lines, pend)
        sel = staged.select(
            *[c.cast("boolean").alias(f"_c{i}") for i, (c, _e) in enumerate(rules)],
            *[e.alias(f"_e{i}") for i, (_c, e) in enumerate(rules)],
        )
        # .schema forces full analysis of the layered plan
        assert sel.schema is not None, (fmt, gate)


def test_plan_caches_clear_on_new_spark_context_epoch(spark):
    """Round 10 (ADVICE r9 #2): the process-wide Column-tree caches are
    epoch-keyed by applicationId — after a context restart the stale
    trees (dead py4j handles) must be dropped, not reused. Simulate the
    epoch change rather than bouncing the suite's session."""
    lpf._fresh_caches()
    lpf._PLAN_CACHE[("__sentinel__", None)] = ([], [])
    lpf._CAND_CACHE["__sentinel__"] = {}
    lpf._PRESENCE_CACHE["__sentinel__"] = ()
    # same epoch: caches persist
    lpf._fresh_caches()
    assert ("__sentinel__", None) in lpf._PLAN_CACHE
    # new epoch (a restarted context has a new applicationId)
    lpf._CACHE_EPOCH[0] = "stale-app-id"
    lpf._fresh_caches()
    assert ("__sentinel__", None) not in lpf._PLAN_CACHE
    assert "__sentinel__" not in lpf._CAND_CACHE
    assert "__sentinel__" not in lpf._PRESENCE_CACHE
    assert lpf._CACHE_EPOCH[0] == spark.sparkContext.applicationId
