"""JVM fast-path parity: logparse_fast.fast_parse_df must be
row-identical to the Python parse_content path for every supported
format (including the per-document fallback to 'generic'), and its
plan must contain zero Python execution."""

from __future__ import annotations

import pytest

from blq_cli_spark.sources import logparse as lp
from blq_cli_spark.sources import logparse_fast as lpf
from tests import test_logparse as fx

RUST_TRAILING = """\
error[E0308]: mismatched types
 --> src/main.rs:5:9
error: aborting due to previous error
"""

RUST_LOC_FIRST = """\
 --> src/orphan.rs:1:1
warning: unused variable: `x`
error[E0599]: no method named `foo`
 --> src/lib.rs:42:13
note: some note line that matches nothing
"""

NPM_EDGE = """\
npm WARN deprecated pkg@1.0.0: old
npm ERR! code ELIFECYCLE
npm ERR! errno 1
npm ERR! app@1.0.0 build: `webpack`
other line breaking the block
npm ERR! Exit status 1
npm ERR!{SP}
""".replace("{SP}", " ")

GENERIC_LOG = """\
2024-01-01 boot ok
FATAL: disk full at 0xdeadbeef sector 42
something Error: widget 17 failed
warning   no colon after keyword
"""

FALLBACK_LOG = """\
no compiler lines here
but one error: fell back to generic
"""

EMPTY_LOG = ""
NOMATCH_LOG = "nothing to see\njust logs\n"

FLAKE8_LOG = """\
src/a.py:10:5: E501 line too long (82 > 79)
src/b.py:2:1: F401 'os' imported but unused
src/c.py:7:30: W291 trailing whitespace
src/d.py:1:1: E999 SyntaxError: invalid syntax
"""

PYLINT_LOG = """\
module.py:10:5: C0301: Line too long (105/100) (line-too-long)
module.py:22:0: E1101: Instance has no 'foo' member (no-member)
pkg/util.py:3:4: W0612: Unused variable 'x' (unused-variable)
"""

RUBOCOP_LOG = """\
app/models/user.rb:10:5: C: Style/FrozenStringLiteral: Missing magic comment.
app/api.rb:2:1: E: Lint/Syntax: unexpected token
lib/x.rb:7:3: W: [Correctable] Layout/TrailingWhitespace: Trailing whitespace.
"""

GO_BUILD_LOG = """\
./main.go:10:5: undefined: foo
pkg/util.go:3:1: imported and not used: "fmt"
pkg/util.go:9: missing return
"""

# panic at EOF (no following message line -> 'panicked'); blank message
# line; FAILED line with double-colon test path
CARGO_EDGE = """\
test mod::sub::t_one ... FAILED
thread 'mod::sub::t_one' panicked at src/lib.rs:10:5:
assertion failed: left == right
thread 'other::t' panicked at src/x.rs:2:1:

thread 'eof::t' panicked at src/y.rs:3:2:
""".rstrip("\n")

# all-green file header must RESET the current file (its items are
# passing x-marked retries in watch mode); item before any header
VITEST_EDGE = """\
  × orphan item before any header
❯ src/a.test.ts (3 tests | 2 failed)
  × first failing test 12ms
  × second failing test
❯ src/green.test.ts (5 tests)
  × must not emit, current file is green
FAIL src/a.test.ts > first failing test
"""

# location replaced by a newer one; detail that is a bracket line
# (skipped); duplicate FAILED summaries deduped per document
GTEST_EDGE = """\
foo.cc:10: Failure
bar.cc:20: Failure
Expected equality of these values
[  FAILED  ] Suite.A (3 ms)
[  FAILED  ] Suite.A
[  FAILED  ] Suite.B
baz.cc:30: Failure
[ not a detail ]
actual detail after bracket line
"""

# blank line between FAILED: and the REQUIRE expression; plain-text
# detail (no REQUIRE); replaced location
CATCH2_EDGE = """\
a.cpp:10: FAILED:

  REQUIRE( x == 4 )
b.cpp:20: FAILED:
c.cpp:30: FAILED:
plain text detail
"""

# two error lines before the frame (last wins); frameless failure at
# EOF; head whose test name ends with a colon
MOCHA_EDGE = """\
  1) suite does thing:
     TypeError: first message
     AssertionError: second message wins
      at ctx (/app/test/a.js:12:7)
  2) suite other thing
     Error: no frame follows
"""

# two stacked tracebacks; an exception line with NO frame since the
# previous exception (must NOT emit — the consume-on-emit rule); a
# header followed directly by an error (tb_start survives non-emitting
# errors per the Python state machine)
PYTB_EDGE = """\
Traceback (most recent call last):
  File "a.py", line 1, in <module>
KeyError: 'x'
RuntimeError: no frame since KeyError, must not emit
  File "b.py", line 2, in run
ValueError: emits with b.py
Traceback (most recent call last):
TypeError: header but zero frames, must not emit
  File "c.py", line 3, in f
OSError
"""

# error with only internal frames (emits bare at next error); error at
# EOF with no frames; userland frame before any error (ignored)
NODE_EDGE = """\
    at early (/app/early.js:1:1)
TypeError: only internal frames
    at process.processTicksAndRejections (node:internal/process/task_queues:95:5)
RangeError [ERR_OUT_OF_RANGE]: second one
    at handler (/srv/app.js:7:3)
AssertionError: at eof, frameless
"""

# panic whose goroutine trace starts with runtime frames; panic at EOF;
# [recovered] suffix stripping
GO_PANIC_EDGE = """\
panic: send on closed channel [recovered]

goroutine 7 [running]:
runtime.gopanic(...)
\t/usr/local/go/src/runtime/panic.go:914 +0x21f
main.worker()
\t/app/worker.go:33 +0x45
panic: at eof without frames
"""

# frameless exception header (must NOT emit); undotted header word
# (not an exception); Caused-by chain; frame without a line number
# followed by one with (location = first frame WITH a number)
JAVA_ST_EDGE = """\
java.io.IOException: frameless, must not emit
WordError: undotted, not a header
java.lang.RuntimeException: outer
	at com.example.Gen.invoke(Generated)
	at com.example.App.run(App.java:42)
unindented line ends the frame block
	at com.example.Late.frame(Late.java:1)
Caused by: java.lang.IllegalStateException
	at com.example.Util.check(Util.java:7)
"""

# issue rows BEFORE any file header are emitted with file=None (the
# Python parser has no current-file guard for sqlfluff)
SQLFLUFF_EDGE = """\
L:   1 | P:   1 | L001 | issue before any header
== [models/x.sql] FAIL
L:   2 | P:   3 | L002 | issue after header
"""

# headers without a following caret line; a caret before any header;
# info/style severity normalization
SHELLCHECK_EDGE = """\
In lonely.sh line 1:
In deploy.sh line 3:
cp $SRC $DST
   ^--^ SC2086 (style): Double quote to prevent globbing.
^-- SC1000: bare code no severity
"""

# continuation block at EOF; two adjacent diagnostics; indented line
# with no pending diagnostic; whitespace-only line ends a span
JAVAC_EDGE = """\
  orphan indented line before any diagnostic
Main.java:10: error: ';' expected
        int x = 1
                 ^
{SP}{SP}
Util.java:3: warning: deprecated API
Other.java:9: error: cannot find symbol
  symbol:   variable y
  location: class Other
""".replace("{SP}", " ")

CASES = {
    "gcc": [fx.GCC_LOG, FALLBACK_LOG, EMPTY_LOG, NOMATCH_LOG],
    "pytest": [fx.PYTEST_LOG, FALLBACK_LOG],
    "mypy": [fx.MYPY_LOG, FALLBACK_LOG],
    "eslint": [fx.ESLINT_LOG, FALLBACK_LOG],
    "rustc": [fx.RUST_LOG, RUST_TRAILING, RUST_LOC_FIRST],
    "go_test": [fx.GO_LOG, FALLBACK_LOG],
    "maven": [fx.MAVEN_LOG, FALLBACK_LOG],
    "tsc": [fx.TSC_LOG, FALLBACK_LOG],
    "jest": [fx.JEST_LOG, FALLBACK_LOG],
    "npm": [fx.NPM_LOG, NPM_EDGE, FALLBACK_LOG],
    "golangci_lint": [fx.GOLANGCI_LOG, FALLBACK_LOG],
    "generic": [GENERIC_LOG, EMPTY_LOG, NOMATCH_LOG],
    "ruff": [fx.RUFF_LOG, FALLBACK_LOG],
    "flake8": [FLAKE8_LOG, FALLBACK_LOG],
    "pylint": [PYLINT_LOG, FALLBACK_LOG],
    # round-7 formats
    "clang_tidy": [fx.CLANG_TIDY_LOG, FALLBACK_LOG],
    "swiftc": [fx.SWIFTC_LOG, FALLBACK_LOG],
    "rubocop": [RUBOCOP_LOG, FALLBACK_LOG],
    "go_build": [GO_BUILD_LOG, FALLBACK_LOG],
    "yamllint": [fx.YAMLLINT_LOG, FALLBACK_LOG],
    "shellcheck": [fx.SHELLCHECK_LOG, SHELLCHECK_EDGE, FALLBACK_LOG],
    "javac": [fx.JAVAC_LOG, JAVAC_EDGE, FALLBACK_LOG, EMPTY_LOG],
    # round-7 batch 2 (fixtures shared with the Python-path tests)
    "checkstyle": [fx.BATCH4_LOGS["checkstyle"][0], FALLBACK_LOG],
    "hadolint": [fx.BATCH4_LOGS["hadolint"][0], FALLBACK_LOG],
    "sqlfluff": [fx.BATCH4_LOGS["sqlfluff"][0], SQLFLUFF_EDGE, FALLBACK_LOG],
    "luacheck": [fx.BATCH4_LOGS["luacheck"][0], FALLBACK_LOG],
    "cppcheck": [fx.BATCH4_LOGS["cppcheck"][0], FALLBACK_LOG],
    "markdownlint": [fx.MDLINT_LOG, FALLBACK_LOG],
    "sbt": [fx.SBT_LOG, FALLBACK_LOG],
    "stylelint": [fx.BATCH4_LOGS["stylelint"][0], FALLBACK_LOG],
    # round-7 batch 3: runtime tracebacks
    "python_traceback": [fx.TRACEBACK_LOG, PYTB_EDGE, FALLBACK_LOG],
    "node_traceback": [fx.NODE_LOG, NODE_EDGE, FALLBACK_LOG],
    "go_panic": [fx.GO_PANIC_LOG, GO_PANIC_EDGE, FALLBACK_LOG],
    "java_stacktrace": [fx.JAVA_LOG, JAVA_ST_EDGE, FALLBACK_LOG],
    # round-7 batch 4: test frameworks
    "cargo_test": [fx.CARGO_TEST_LOG, CARGO_EDGE, FALLBACK_LOG],
    "ctest": [fx.BATCH5_SIMPLE["ctest"][0], FALLBACK_LOG],
    "tap": [fx.BATCH7_SIMPLE["tap"][0], FALLBACK_LOG],
    "python_unittest": [fx.BATCH7_SIMPLE["python_unittest"][0], FALLBACK_LOG],
    "vitest": [fx.VITEST_LOG, VITEST_EDGE, FALLBACK_LOG],
    "googletest": [fx.GTEST_LOG, GTEST_EDGE, FALLBACK_LOG],
    "catch2": [fx.CATCH2_LOG, CATCH2_EDGE, FALLBACK_LOG],
    "mocha": [fx.MOCHA_LOG, MOCHA_EDGE, FALLBACK_LOG],
}

# round-7 batch 5: the stateless single-line catalog — fixtures shared
# with the Python-path tests, located programmatically by name
_B5_FIXTURES = {
    "actionlint": fx.BATCH4_LOGS["actionlint"][0],
    "ansible_lint": fx.BATCH8_SIMPLE["ansible_lint"][0],
    "bazel": fx.BATCH4_LOGS["bazel"][0],
    "biome": fx.BATCH8_SIMPLE["biome"][0],
    "black_isort": fx.BLACK_ISORT_LOG,
    "commitlint": fx.BATCH8_SIMPLE["commitlint"][0],
    "dart_analyze": fx.BATCH5_SIMPLE["dart_analyze"][0],
    "detekt": fx.BATCH7_SIMPLE["detekt"][0],
    "dmd": fx.BATCH6_SIMPLE["dmd"][0],
    "docker_build": fx.DOCKER_LOG,
    "erlang": fx.BATCH6_SIMPLE["erlang"][0],
    "kotlinc": fx.KOTLINC_LOG,
    "ktlint": fx.BATCH4_LOGS["ktlint"][0],
    "meson": fx.BATCH8_SIMPLE["meson"][0],
    "msbuild": fx.MSBUILD_LOG,
    "nim": fx.BATCH6_SIMPLE["nim"][0],
    "ninja": fx.BATCH8_SIMPLE["ninja"][0],
    "nvcc": fx.NVCC_LOG,
    "pascal": fx.BATCH6_SIMPLE["pascal"][0],
    "perl": fx.BATCH6_SIMPLE["perl"][0],
    "php_lint": fx.BATCH4_LOGS["php_lint"][0],
    "phpstan": fx.BATCH5_SIMPLE["phpstan"][0],
    "pip_resolver": fx.PIP_LOG + fx.UV_LOG,
    "playwright": fx.BATCH6_SIMPLE["playwright"][0],
    "pmd": fx.BATCH5_SIMPLE["pmd"][0],
    "prettier": fx.BATCH6_SIMPLE["prettier"][0],
    "protoc": fx.BATCH4_LOGS["protoc"][0],
    "psalm": fx.BATCH5_SIMPLE["psalm"][0],
    "psscriptanalyzer": fx.BATCH8_SIMPLE["psscriptanalyzer"][0],
    "puppet": fx.BATCH7_SIMPLE["puppet"][0],
    "ruby_traceback": fx.BATCH6_SIMPLE["ruby_traceback"][0],
    "scalastyle": fx.BATCH7_SIMPLE["scalastyle"][0],
    "solhint": fx.BATCH5_SIMPLE["solhint"][0],
    "sphinx": fx.BATCH5_SIMPLE["sphinx"][0],
    "spotbugs": fx.BATCH5_SIMPLE["spotbugs"][0],
    "staticcheck": "main.go:10:5: this value of err is never used (SA4006)\n",
    "swiftlint": fx.BATCH7_SIMPLE["swiftlint"][0],
    "verilator": fx.BATCH5_SIMPLE["verilator"][0],
    "xcodebuild": fx.BATCH4_LOGS["xcodebuild"][0],
    "xmllint": fx.BATCH7_SIMPLE["xmllint"][0],
    "zig": fx.BATCH4_LOGS["zig"][0],
}
# round-7 batch 6a: carry / consume-pair / lead / lookahead shapes
_B6A_FIXTURES = {
    "ansible": fx.ANSIBLE_LOG,
    "cypress": fx.BATCH8_SIMPLE["cypress"][0],
    "gfortran": fx.GFORTRAN_LOG,
    "ocaml": fx.OCAML_LOG,
    "latex": fx.LATEX_LOG,
    "scalatest": fx.BATCH7_SIMPLE["scalatest"][0],
    "elixir": fx.ELIXIR_LOG,
    "clojure": fx.CLOJURE_LOG,
    "gradle": fx.GRADLE_LOG,
    "nunit": fx.BATCH8_SIMPLE["nunit"][0],
    "terraform": fx.TF_LOG,
    "tflint": fx.TFLINT_LOG,
    "make_ld": fx.MAKE_LD_LOG,
    "junit_xml": fx.JUNIT_XML_LOG,
}
_B5_FIXTURES.update(_B6A_FIXTURES)
_B6B_FIXTURES = {
    "ruby_test": fx.RUBY_TEST_LOG,
    "deno": fx.DENO_LOG,
    "julia": fx.JULIA_LOG,
    "ghc": fx.GHC_LOG,
    "hlint": fx.HLINT_LOG,
    "cmake": fx.CMAKE_LOG,
    "bandit": fx.BANDIT_LOG,
    "valgrind": fx.VALGRIND_LOG,
    "r_script": fx.R_LOG,
    "dotnet_test": fx.DOTNET_TEST_LOG,
    "phpunit": fx.PHPUNIT_LOG,
    "checkov": fx.CHECKOV_LOG,
    "gitleaks": fx.GITLEAKS_LOG,
}
_B5_FIXTURES.update(_B6B_FIXTURES)


for _name, _log in _B5_FIXTURES.items():
    CASES[_name] = [_log, FALLBACK_LOG]

_COLS = [c.split()[0].strip() for c in lp.PARSED_EVENT_DDL.split(",")] + ["format_used"]


def _python_rows(docs: list[tuple[str, str]], fmt: str) -> list[tuple]:
    out = []
    for sid, content in docs:
        for idx, ev in enumerate(lp.parse_content(content, fmt), start=1):
            ev = {"source_id": sid, "event_index": idx, **ev}
            out.append(tuple(ev.get(k) for k in _COLS))
    return sorted(out)


def _spark_rows(spark, docs: list[tuple[str, str]], fmt: str) -> list[tuple]:
    df = spark.createDataFrame(docs, "source_id string, content string")
    rows = lpf.fast_parse_df(df, fmt).collect()
    return sorted(tuple(r[k] for k in _COLS) for r in rows)


@pytest.mark.parametrize("fmt", sorted(CASES))
def test_fast_path_matches_python(spark, fmt):
    docs = [(f"d{i}", c) for i, c in enumerate(CASES[fmt])]
    assert _spark_rows(spark, docs, fmt) == _python_rows(docs, fmt)


def test_fast_formats_all_registered():
    missing = set(lpf.FAST_FORMATS) - set(lp.FORMATS)
    assert not missing, f"fast formats not in the Python rule table: {missing}"


def test_parse_df_routes_to_jvm(spark):
    """parse_df with an explicit fast format must produce a plan with
    zero Python execution; use_jvm=False keeps the mapInPandas path."""
    df = spark.createDataFrame([("r1", fx.GCC_LOG)], "source_id string, content string")
    fast_plan = lp.parse_df(df, fmt="gcc")._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "EvalPython", "ArrowEval"):
        assert marker not in fast_plan
    slow_plan = (
        lp.parse_df(df, fmt="gcc", use_jvm=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in slow_plan
    # and both paths agree on the result
    fast = sorted(tuple(r) for r in lp.parse_df(df, fmt="gcc").collect())
    slow = sorted(tuple(r) for r in lp.parse_df(df, fmt="gcc", use_jvm=False).collect())
    assert fast == slow


def test_auto_routes_to_jvm(spark):
    """fmt='auto' takes the JVM detection path (round 8) — zero Python
    stages — unless a Python-only format is registered, in which case
    detection equivalence is lost and it must fall back."""
    df = spark.createDataFrame([("r1", fx.GCC_LOG)], "source_id string, content string")
    plan = lp.parse_df(df, fmt="auto")._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "EvalPython", "ArrowEval"):
        assert marker not in plan
    lp.FORMATS["_pyonly"] = lambda lines: iter(())
    try:
        plan = (
            lp.parse_df(df, fmt="auto")._jdf.queryExecution().executedPlan().toString()
        )
        assert "MapInPandas" in plan
    finally:
        del lp.FORMATS["_pyonly"]


def test_fast_path_schema_matches_ddl(spark):
    df = spark.createDataFrame([("r1", fx.GCC_LOG)], "source_id string, content string")
    fast = lp.parse_df(df, fmt="gcc")
    slow = lp.parse_df(df, fmt="gcc", use_jvm=False)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in slow.schema.fields
    ]


def test_mixed_corpus_event_index_and_fallback(spark):
    """Event numbering restarts per document; a document that matches
    nothing for the requested format falls back to generic rules with
    format_used='generic' (parse_content semantics)."""
    docs = [("a", fx.GCC_LOG), ("b", FALLBACK_LOG), ("c", EMPTY_LOG)]
    df = spark.createDataFrame(docs, "source_id string, content string")
    rows = lp.parse_df(df, fmt="gcc").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source_id"], []).append(r)
    assert [r["event_index"] for r in sorted(by_src["a"], key=lambda r: r["event_index"])] == [1, 2]
    assert {r["format_used"] for r in by_src["a"]} == {"gcc"}
    assert {r["format_used"] for r in by_src["b"]} == {"generic"}
    assert "c" not in by_src


def test_builder_fallback_with_gated_generic(spark):
    """Round-10 generic gating for builder formats: with fmt='rustc'
    (a _BUILDER_EVENT_TRIGGERS member) a mixed corpus must still fall
    back to generic on documents with zero rustc events — including
    documents whose lines contain severity words that the gate could
    wrongly suppress — and match the Python reference exactly."""
    docs = [
        ("r", fx.RUST_LOG),
        ("fb", FALLBACK_LOG),  # 'error:' mid-line: generic, not rustc
        ("c", EMPTY_LOG),
        ("n", NOMATCH_LOG),
    ]
    df = spark.createDataFrame(docs, "source_id string, content string")
    fast = sorted(map(tuple, lp.parse_df(df, fmt="rustc").collect()))
    slow = sorted(map(tuple, lp.parse_df(df, fmt="rustc", use_jvm=False).collect()))
    assert fast == slow
    used = {r[0]: set() for r in fast}
    for r in fast:
        used[r[0]].add(r[-1])
    assert used["r"] == {"rustc"}
    assert used["fb"] == {"generic"}
    assert "c" not in used and "n" not in used


def test_streaming_input_keeps_python_path(spark, tmp_path):
    """Structured Streaming rejects per-document windows, so parse_df
    must route streaming DataFrames to the mapInPandas path (the round-6
    regression the full suite caught)."""
    import os

    src = str(tmp_path / "docs")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as fh:
        fh.write('{"source_id": "r1", "content": "main.c:1:2: error: boom"}\n')
    stream = (
        spark.readStream.schema("source_id string, content string").json(src)
    )
    parsed = lp.parse_df(stream, fmt="gcc")
    assert parsed.isStreaming  # plan built without AnalysisException
    q = (
        parsed.writeStream.format("memory")
        .queryName("t_fastpath_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM t_fastpath_stream").collect()
    assert len(rows) == 1 and rows[0]["tool_name"] == "gcc"


def test_fast_path_single_exchange(spark):
    """Both per-document windows (generic-fallback count + event_index)
    must share ONE hash exchange on source_id — a second shuffle of the
    event stream would be a plan regression."""
    df = spark.createDataFrame([("r1", fx.GCC_LOG)], "source_id string, content string")
    plan = lp.parse_df(df, fmt="gcc")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_events_fixture_event_id_unique_per_user(spark):
    """ADVICE r10 #2: x_parse_suite's one-shuffle fixture sorts ONE
    combined struct(event_id, l_gcc, l_es, l_rust), so event_id ties
    within a user would tie-break on the gcc line for ALL families
    (the old per-family assembly tie-broke per family, and the oracle's
    row_number OVER (ORDER BY event_id) is equally ambiguous). The
    byte-identity argument therefore REQUIRES event_id uniqueness per
    user — assert it on the driver's deterministic events fixture."""
    import os

    import pyspark.sql.functions as F

    from blq_cli_spark.sources.tables import table
    from tests.conftest import SF_CORRECT, SF_SMOKE

    # sf0.1 is the scale bench.py and the gates run x_parse_suite at
    sf_bench = os.path.join(os.path.dirname(SF_CORRECT), "sf0.1")
    for sf_dir in (SF_SMOKE, SF_CORRECT, sf_bench):
        dup = (
            table(spark, sf_dir, "events")
            .groupBy("user_id", "event_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0, sf_dir


def test_fallback_window_sort_elided(spark):
    """Round 11 (VERDICT r10 ask #6): the fallback-count window is
    ordered by the event_index keys with a full-partition frame, so the
    event table is sorted ONCE — the event_index window's sort must be
    elided (one Sort above the explode-side exchange, not two). The
    line-level carry sorts (eslint etc.) are separate and unaffected."""
    df = spark.createDataFrame([("r1", fx.GCC_LOG)], "source_id string, content string")
    plan = lp.parse_df(df, fmt="gcc")._jdf.queryExecution().executedPlan().toString()
    # gcc has no carry staging: the whole plan needs exactly one Sort
    # (shared by the fallback-count and event_index windows)
    assert plan.count("Sort ") == 1, plan.count("Sort ")
