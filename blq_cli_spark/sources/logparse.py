"""Rule-table log parser: build/test output -> structured event rows.

Re-implements the *capability* of the reference's external `duck_hunt`
DuckDB extension (consumed at src/blq/query.py:139-229, format fallback
chain src/blq/commands/core.py:2037-2102, diagnosis serve.py:1368-1383):
per-format regex rule tables, severity/location/code extraction,
fingerprint computation, log-line spans, and auto-detection by scoring.

Formats come in two kinds. The stateless per-line ones (each line
matches one of a few regexes and yields at most one event) are data:
rows of `_ROWS`, each an ordered tuple of rules holding a pattern, a
severity, a field map of groups and templates, the groups that must be
non-empty and the prefilter literals. This module compiles a row into
the Python matcher FORMATS holds; logparse_fast compiles the same row
into its Column rules and auto-detect prefilter. Formats with state
across lines, or with a field a row cannot state (a fallback message,
a case-folded prefix, a rewritten code), are hand-written parsers here
with hand-written twins in logparse_fast.

Execution model:
- driver-side `parse_content(text, fmt)` for small/in-memory content (S4)
- distributed `parse_df(df)` via mapInPandas for bulk re-parse (S3): one
  input row = one (source_id, content) log document; Arrow-batched, scales
  with the number of documents. A 100 TB re-parse is embarrassingly
  parallel at per-run granularity — runs are independent units.

Python-side parsing is the right trade here: the grammar is dozens of
regexes with per-format state (not expressible as one JVM regex), and the
hot path at scale is bounded by I/O on raw logs, not the interpreter.
"""

from __future__ import annotations

import hashlib
import re
import string
from collections.abc import Iterable, Iterator
from itertools import compress, count
from typing import NamedTuple

_SEVERITY_ALIASES = {
    "error": "error",
    "fatal": "error",
    "fatal error": "error",
    "warning": "warning",
    "warn": "warning",
    "note": "note",
    "info": "info",
    "failed": "error",
    "fail": "error",
}


def _norm_severity(s: str) -> str:
    return _SEVERITY_ALIASES.get(s.strip().lower(), "info")


def fingerprint_of(tool: str, code: str | None, message: str) -> str:
    """Stable dedup key: tool + code + number/hex-normalized message
    (the reference treats fingerprints as opaque parser output, F21)."""
    norm = re.sub(r"0x[0-9a-fA-F]+", "H", message)
    norm = re.sub(r"\d+", "N", norm)
    norm = re.sub(r"\s+", " ", norm).strip().lower()
    return hashlib.md5(f"{tool}|{code or ''}|{norm}".encode()).hexdigest()


def _event(
    tool: str,
    category: str,
    severity: str,
    message: str,
    line_no: int,
    *,
    file: str | None = None,
    line: int | None = None,
    col: int | None = None,
    code: str | None = None,
    rule: str | None = None,
    test_name: str | None = None,
    end_line_no: int | None = None,
    event_type: str = "diagnostic",
) -> dict:
    return {
        "event_type": event_type,
        "severity": severity,
        "ref_file": file,
        "ref_line": line,
        "ref_column": col,
        "message": message.strip(),
        "code": code,
        "rule": rule,
        "tool_name": tool,
        "category": category,
        "test_name": test_name,
        "fingerprint": fingerprint_of(tool, code or rule, message),
        "log_line_start": line_no,
        "log_line_end": end_line_no or line_no,
    }


# --- the rule table: stateless per-line formats as data ---------------------
# Every format whose whole grammar is "each line matches one of a few
# regexes, one event per matching line" is one _Row: an ordered tuple of
# _Rules, where the first rule whose pattern matches a line claims it.
# Two compilers read a row: _row_parser below builds the Python matcher
# that FORMATS holds, and logparse_fast._row_rule builds the staged
# Column rules (each pattern with group names stripped, positions from
# re.compile(pattern).groupindex) and serves the OR of the rules' `pre`
# as the auto-detect candidate prefilter. A field is a group name or a
# template over groups ("FAILED: {target}"); severity is a literal or
# read from a group, where nested groups and lookaheads inside the
# pattern express code-prefix rules (flake8's `E(?=9)|F`). Formats that
# need anything else — state across lines, a search-style pattern, a
# fallback message, a case-folded prefix, a rewritten code — stay
# hand-written in both modules.


class _Sev(NamedTuple):
    """Severity taken from pattern group `group`: normalized through
    _SEVERITY_ALIASES when `map` is None, else looked up in `map`
    (exact value) with `default` for every other value, a group that
    did not participate included."""

    group: str
    map: dict[str, str] | None = None
    default: str = "info"


class _Rule(NamedTuple):
    tool: str
    category: str
    pattern: str  # named-group `re` pattern, anchored ^...$
    sev: str | _Sev  # a literal severity, or one read from a group
    # _event field -> group name, or a template of literals and
    # "{group}"s (an unmatched group fills as ""); "message" required
    fields: dict[str, str]
    # prefilter: AND of clauses, each an OR of literals the pattern
    # requires; a "^" prefix means the line starts with the literal
    pre: tuple[tuple[str, ...], ...]
    event_type: str = "diagnostic"
    need: tuple[str, ...] = ()  # groups that must match non-empty


class _Row(NamedTuple):
    key: str  # format name in FORMATS / FAST_FORMATS
    doc: str  # the parser docstring; its first line is the `blq formats` text
    rules: tuple[_Rule, ...]


def _one(key: str, tool: str, category: str, doc: str, *rule, **kw) -> _Row:
    """A single-rule row, written in the table's column order."""
    return _Row(key, doc, (_Rule(tool, category, *rule, **kw),))


def _template(value: str) -> list[tuple[str, str]] | None:
    """A field value's (literal, group) parts, or None when the value is
    a plain group name. Groups are "{name}"s with no spec or conversion,
    so both compilers read a template the same way."""
    if value.isidentifier():
        return None
    parts = []
    for lit, group, spec, conv in string.Formatter().parse(value):
        assert not spec and not conv, value
        parts.append((lit, group or ""))
    return parts


_ROWS: tuple[_Row, ...] = (
    _one(
        "actionlint", "actionlint", "lint",
        "actionlint: `.github/workflows/ci.yml:10:5: msg [rule]`.",
        r"^(?P<file>[^\s:]+\.ya?ml):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<msg>.*?)\s*\[(?P<rule>[\w-]+)\]$",
        "error",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".yml:", ".yaml:"), ("[",)),
    ),
    _one(
        "ansible_lint", "ansible-lint", "lint",
        "ansible-lint: `playbook.yml:10: name[missing] All tasks should be named`.",
        r"^(?P<file>[^\s:]+\.ya?ml):(?P<line>\d+):(?:(?P<col>\d+):)?\s*"
        r"(?P<rule>[\w-]+(?:\[[\w-]+\])?):?\s+(?P<msg>.*)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".yml:", ".yaml:"),),
    ),
    _one(
        "bazel", "bazel", "build",
        "bazel: `ERROR: /path/BUILD:10:1: msg` build-file diagnostics.",
        r"^(?P<sev>ERROR|WARNING): (?P<file>/[^\s:]+/BUILD(?:\.bazel)?):(?P<line>\d+):(?P<col>\d+):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("^ERROR: ", "^WARNING: "), ("BUILD",)),
    ),
    _Row(
        "black_isort",
        "black --check / isort --check-only: would-reformat + cannot-format\n"
        "+ incorrectly-sorted lines.",
        (
            _Rule(
                "black", "format", r"^would reformat (?P<file>.+)$", "warning",
                {"message": "would reformat", "file": "file"},
                (("^would reformat ",),),
            ),
            _Rule(
                "black", "format", r"^error: cannot format (?P<file>[^:]+):\s*(?P<msg>.*)$",
                "error",
                {"message": "msg", "file": "file"},
                (("^error: cannot format ",),),
            ),
            _Rule(
                "isort", "format",
                r"^ERROR: (?P<file>[^\s]+) Imports are incorrectly sorted(?P<rest>.*)$",
                "warning",
                {"message": "imports are incorrectly sorted{rest}", "file": "file"},
                (("^ERROR: ",), ("Imports are incorrectly sorted",)),
            ),
        ),
    ),
    _one(
        "checkstyle", "checkstyle", "lint",
        "checkstyle: `[ERROR] /path/Foo.java:10:5: msg [RuleName]`.",
        r"^\[(?P<sev>ERROR|WARN|INFO)\]\s+(?P<file>[^\s:]+):(?P<line>\d+)(?::(?P<col>\d+))?:\s*"
        r"(?P<msg>.*?)\s*\[(?P<rule>\w+)\]$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        (("^[ERROR]", "^[WARN]", "^[INFO]"),),
    ),
    _one(
        "clang_tidy", "clang-tidy", "lint",
        "clang-tidy: gcc shape + trailing `[check-name]` rule bracket.",
        r"^(?P<file>[^\s:][^:]*):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<sev>error|warning|note):\s*(?P<msg>.*?)\s*\[(?P<rule>[\w.,-]+)\]$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        (("error:", "warning:", "note:"), ("[",)),
    ),
    _one(
        "commitlint", "commitlint", "lint",
        "commitlint: `✖  subject may not be empty [subject-empty]`.",
        r"^\s*[✖x]\s+(?P<msg>.*?)\s+\[(?P<rule>[\w-]+)\]\s*$",
        "error",
        {"message": "msg", "rule": "rule"},
        (("✖", "x"), ("[",)),
    ),
    _one(
        "cppcheck", "cppcheck", "lint",
        "cppcheck: `file.c:10:5: error: msg [errorId]` (modern template).",
        r"^(?P<file>[^\s:][^:]*):(?P<line>\d+)(?::(?P<col>\d+))?:\s*"
        r"(?P<sev>error|warning|style|performance|portability|information):\s*"
        r"(?P<msg>.*?)\s*\[(?P<code>[\w]+)\]$",
        _Sev("sev", {"error": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        (("[",), ("error:", "warning:", "style:", "performance:", "portability:", "information:")),
    ),
    _one(
        "ctest", "ctest", "test",
        "ctest: `1/3 Test #1: test_math ...***Failed  0.05 sec`.",
        r"^\s*\d+/\d+ Test\s+#\d+: (?P<test>[^\s.]+)\s*\.+\*+\s*(?P<res>Failed|Timeout|Exception).*$",
        "error",
        {"message": "{res}: {test}", "test_name": "test"},
        (("Test",), ("*",)),
        event_type="test_result",
    ),
    _one(
        "dart_analyze", "dart", "lint",
        "dart analyze: `error • msg • lib/main.dart:10:5 • rule_name`.",
        r"^\s*(?P<sev>error|warning|info) (?:•|-) (?P<msg>.+?) (?:•|-) "
        r"(?P<file>[^\s:]+\.dart):(?P<line>\d+):(?P<col>\d+) (?:•|-) (?P<rule>[\w_]+)\s*$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".dart:",),),
    ),
    _one(
        "detekt", "detekt", "lint",
        "detekt: `src/App.kt:10:5: msg [MagicNumber]` (no severity keyword).",
        r"^(?P<file>[^\s:]+\.kts?):(?P<line>\d+):(?P<col>\d+): (?P<msg>.*?) \[(?P<rule>[\w.]+)\]$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".kt",), ("[",)),
    ),
    _one(
        "dmd", "dmd", "compile",
        "D (dmd/ldc): `src/app.d(10): Error: undefined identifier foo`.",
        r"^(?P<file>[^\s(]+\.di?)\((?P<line>\d+)(?:,(?P<col>\d+))?\):\s*"
        r"(?P<sev>Error|Warning|Deprecation):\s*(?P<msg>.*)$",
        _Sev("sev", {"Error": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("Error:", "Warning:", "Deprecation:"), ("(",)),
    ),
    _one(
        "erlang", "erlang", "compile",
        "erlc: `src/mod.erl:10: function foo/0 undefined` (errors carry no\n"
        "severity keyword; warnings say `Warning:`).",
        r"^(?P<file>[^\s:]+\.erl):(?P<line>\d+)(?::(?P<col>\d+))?:\s*(?:(?P<sev>Warning):\s*)?(?P<msg>.*)$",
        _Sev("sev", {"Warning": "warning"}, "error"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".erl:",),),
        need=("msg",),
    ),
    # the nested sev group is "E" only before a 9 (E9xx) or "F": the
    # codes flake8 reports as errors
    _one(
        "flake8", "flake8", "lint",
        "flake8/pycodestyle: `file.py:10:5: E501 line too long (82 > 79)`.",
        r"^(?P<file>[^\s:][^:]*):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<code>(?:(?P<sev>E(?=9)|F)|[EWC])\d{3})\s+(?P<msg>.*)$",
        _Sev("sev", {"E": "error", "F": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        ((":",),),
    ),
    _one(
        "gcc", "gcc", "compile", "",
        r"^(?P<file>[^\s:][^:]*):(?P<line>\d+):(?:(?P<col>\d+):)?\s*"
        r"(?P<sev>fatal error|error|warning|note):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("error:", "warning:", "note:"),),
    ),
    # no severity keyword (which is why the gcc grammar misses these
    # lines); the negative lookahead keeps gcc-shaped lines out
    _one(
        "go_build", "go", "compile",
        "go build / go vet: `./main.go:10:5: undefined: foo` — file:line:col",
        r"^(?P<file>\.?/?[\w./-]+\.go):(?P<line>\d+):(?:(?P<col>\d+):)?\s*(?P<msg>(?!.*\b(?:error|warning)\b:).+)$",
        "error",
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".go:",),),
    ),
    _one(
        "golangci_lint", "golangci-lint", "lint",
        "golangci-lint: `main.go:10:2: message (lintername)`.",
        r"^(?P<file>[^\s:][^:]*\.go):(?P<line>\d+):(?:(?P<col>\d+):)?\s*"
        r"(?P<msg>.*?)\s+\((?P<rule>[a-z][\w-]*)\)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".go:",),),
    ),
    _one(
        "hadolint", "hadolint", "lint",
        "hadolint: `Dockerfile:3 DL3008 warning: Pin versions in apt get`.",
        r"^(?P<file>[^\s:]+):(?P<line>\d+)\s+(?P<code>DL\d+|SC\d+)\s+"
        r"(?P<sev>error|warning|info|style):\s*(?P<msg>.*)$",
        _Sev("sev", {"error": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "code": "code"},
        (("DL", "SC"),),
    ),
    _one(
        "kotlinc", "kotlinc", "compile",
        "kotlinc: `e: /path/File.kt: (12, 8): unresolved reference: foo`.",
        r"^(?P<sev>[ew]): (?P<file>[^:]+\.kts?): \((?P<line>\d+), (?P<col>\d+)\): (?P<msg>.*)$",
        _Sev("sev", {"e": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("^e: ", "^w: "),),
    ),
    _one(
        "ktlint", "ktlint", "lint",
        "ktlint: `src/App.kt:10:5: msg (standard:rule-name)`.",
        r"^(?P<file>[^\s:][^:]*\.kts?):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<msg>.*?)\s*\((?P<rule>[\w:-]+)\)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".kt",), ("(",)),
    ),
    _one(
        "luacheck", "luacheck", "lint",
        "luacheck: `src/a.lua:10:5: (W211) unused variable 'x'`.",
        r"^\s*(?P<file>[^\s:]+\.lua):(?P<line>\d+):(?P<col>\d+):\s*"
        r"\((?P<code>(?P<sev>[WE])\d+)\)\s*(?P<msg>.*)$",
        _Sev("sev", {"E": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        ((".lua:",), ("(",)),
    ),
    _one(
        "markdownlint", "markdownlint", "lint",
        "markdownlint: `README.md:12:81 MD013/line-length Line length ...`.",
        r"^(?P<file>[^\s:][^:]*\.(?:md|markdown)):(?P<line>\d+)(?::(?P<col>\d+))?\s+"
        r"(?P<code>MD\d+)(?:/(?P<rule>[\w-]+))?\s+(?P<msg>.*)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code", "rule": "rule"},
        ((".md:", ".markdown:"), ("MD",)),
    ),
    _one(
        "maven", "maven", "build", "",
        r"^\[(?P<sev>ERROR|WARNING)\]\s+(?:(?P<file>[^\s\[]+):\[(?P<line>\d+),(?P<col>\d+)\]\s*)?(?P<msg>.+)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("^[ERROR]", "^[WARNING]"),),
    ),
    _one(
        "meson", "meson", "build",
        "meson: `meson.build:10:5: ERROR: msg`.",
        r"^(?P<file>[^\s:]+\.build):(?P<line>\d+):(?P<col>\d+): (?P<sev>ERROR|WARNING): (?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".build:",),),
    ),
    # tsc shares the shape; its TS-prefixed codes belong to tsc
    _one(
        "msbuild", "msbuild", "compile",
        "msbuild/csc: `Program.cs(12,34): error CS0103: msg [proj.csproj]`.",
        r"^(?P<file>[^\s(][^(]*)\((?P<line>\d+),(?P<col>\d+)\):\s*"
        r"(?P<sev>error|warning)\s+(?!TS)(?P<code>[A-Z]{1,3}\d{3,5}):\s*(?P<msg>.*?)(?:\s+\[[^\]]+\])?$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        (("error", "warning"), ("(",)),
    ),
    # mypy only ever reports on .py/.pyi files — the restriction is what
    # disambiguates it from clang-tidy's identically-shaped output
    _one(
        "mypy", "mypy", "typecheck", "",
        r"^(?P<file>[^\s:][^:]*\.pyi?):(?P<line>\d+)(?::(?P<col>\d+))?:\s*"
        r"(?P<sev>error|warning|note):\s*(?P<msg>.*?)(?:\s+\[(?P<code>[a-z0-9-]+)\])?$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        ((".py",), ("error:", "warning:", "note:")),
    ),
    _one(
        "nim", "nim", "compile",
        "nim: `src/main.nim(10, 5) Error: undeclared identifier: 'foo'`.",
        r"^(?P<file>[^\s(]+\.nim)\((?P<line>\d+), (?P<col>\d+)\)\s+"
        r"(?P<sev>Error|Warning|Hint):\s*(?P<msg>.*)$",
        _Sev("sev", {"Error": "error", "Warning": "warning"}, "info"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".nim(",),),
    ),
    # the test name is the target's first word: `name` is optional so a
    # blank target (`FAILED:  `) reads as no name in both engines
    _Row(
        "ninja",
        "ninja: `FAILED: target` blocks + `ninja: error: msg` lines (the\n"
        "compiler output inside a FAILED block belongs to gcc/clang formats).",
        (
            _Rule(
                "ninja", "build", r"^FAILED: (?=.)(?P<target>\s*(?P<name>\S+)?.*)$", "error",
                {"message": "FAILED: {target}", "test_name": "name"},
                (("^FAILED: ",),),
                event_type="task_result",
            ),
            _Rule(
                "ninja", "build", r"^ninja: (?P<sev>error|warning): (?P<msg>.*)$", _Sev("sev"),
                {"message": "msg"},
                (("^ninja: ",),),
            ),
        ),
    ),
    _one(
        "nvcc", "nvcc", "compile",
        "nvcc: `kernel.cu(15): error: identifier \"x\" is undefined`.",
        r"^(?P<file>[^\s(]+\.(?:cu|cuh|cpp|h))\((?P<line>\d+)\):\s*"
        r"(?P<sev>error|warning):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line"},
        (("(",), ("error:", "warning:")),
    ),
    _one(
        "pascal", "fpc", "compile",
        "fpc: `main.pas(10,5) Error: Identifier not found \"foo\"`.",
        r"^(?P<file>[^\s(]+\.(?:pas|pp|dpr))\((?P<line>\d+),(?P<col>\d+)\)\s+"
        r"(?P<sev>Error|Warning|Note|Fatal):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".pas(", ".pp(", ".dpr("),),
    ),
    _one(
        "php_lint", "php", "compile",
        "php -l / runtime log: `PHP Parse error: msg in file.php on line 10`.",
        r"^PHP (?P<sev>Parse error|Fatal error|Warning|Deprecated):\s*(?P<msg>.*?) in (?P<file>[^\s]+) on line (?P<line>\d+)$",
        _Sev("sev", {"Parse error": "error", "Fatal error": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "code": "sev"},
        (("^PHP ",),),
    ),
    _one(
        "phpstan", "phpstan", "typecheck",
        "phpstan --error-format=raw: `/src/Foo.php:10:Call to undefined ...`.",
        r"^(?P<file>[^\s:]+\.php):(?P<line>\d+):(?P<msg>.+?)\.?$",
        "error",
        {"message": "msg", "file": "file", "line": "line"},
        ((".php:",),),
    ),
    _Row(
        "pip_resolver",
        "pip/uv dependency-resolution failures: ERROR: Cannot install /\n"
        "ResolutionImpossible / `× No solution found when resolving deps` and\n"
        "per-package conflict detail lines.",
        (
            _Rule(
                "pip", "deps",
                r"^ERROR: (?P<msg>Cannot install .*|ResolutionImpossible.*|No matching distribution found for (?P<pkg>.+)|"
                r"pip's dependency resolver does not currently.*)$",
                "error",
                {"message": "msg", "code": "pkg"},
                (("^ERROR: ",),),
            ),
            # the msg group requires one of three literal heads, which
            # keeps this rule off every "error"-bearing compiler line
            _Rule(
                "uv", "deps",
                r"^\s*(?:error|×)[:\s]\s*(?P<msg>(?:No solution found|Failed to resolve|Because ).*)$",
                "error",
                {"message": "msg"},
                (("error", "×"), ("No solution found", "Failed to resolve", "Because ")),
            ),
            _Rule(
                "pip", "deps", r"^\s+(?P<pkg>[\w.-]+) (?P<ver>[\d.]+) depends on (?P<dep>.+)$",
                "warning",
                {"message": "{pkg} {ver} depends on {dep}", "code": "pkg"},
                ((" depends on ",),),
            ),
        ),
    ),
    _one(
        "playwright", "playwright", "test",
        "playwright: `1) [chromium] › a.spec.ts:10:5 › suite › test name`.",
        r"^\s*\d+\) \[(?P<project>[\w-]+)\] › (?P<file>[^\s:]+):(?P<line>\d+):(?P<col>\d+) › (?P<test>.+?)\s*$",
        "error",
        {
            "message": "failed: {test}", "file": "file", "line": "line", "col": "col",
            "test_name": "test", "code": "project",
        },
        (("›",),),
        event_type="test_result",
    ),
    _one(
        "pmd", "pmd", "lint",
        "pmd text: `/src/Foo.java:10: UnusedLocalVariable: msg`.",
        r"^(?P<file>[^\s:]+\.java):(?P<line>\d+):\s*(?P<rule>\w+):\s*(?P<msg>.*)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "rule": "rule"},
        ((".java:",),),
    ),
    _one(
        "prettier", "prettier", "format",
        "prettier: `[error] src/a.js: SyntaxError: msg (10:5)`.",
        r"^\[(?P<sev>error|warn)\] (?P<file>[^\s:]+): (?P<code>\w+): (?P<msg>.*?) \((?P<line>\d+):(?P<col>\d+)\)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        (("^[error]", "^[warn]"),),
    ),
    _one(
        "protoc", "protoc", "compile",
        "protoc: `api/v1/user.proto:10:5: \"Foo\" is not defined.`",
        r"^(?P<file>[^\s:]+\.proto):(?P<line>\d+):(?P<col>\d+):\s*(?P<msg>.*)$",
        "error",
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".proto:",),),
    ),
    _one(
        "psalm", "psalm", "typecheck",
        "psalm: `ERROR: UndefinedVariable - src/a.php:10:5 - Cannot find $x`.",
        r"^(?P<sev>ERROR|INFO): (?P<rule>\w+) - (?P<file>[^\s:]+):(?P<line>\d+):(?P<col>\d+) - (?P<msg>.*)$",
        _Sev("sev", {"ERROR": "error"}, "info"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        (("^ERROR: ", "^INFO: "),),
    ),
    # table rows: `PSAvoidUsingCmdletAliases Warning deploy.ps1 10 'gci' is an alias...`
    _one(
        "psscriptanalyzer", "psscriptanalyzer", "lint",
        "PSScriptAnalyzer table rows: `PSAvoidUsingCmdletAliases Warning",
        r"^(?P<rule>PS\w+)\s+(?P<sev>Error|Warning|Information)\s+(?P<file>[^\s]+\.psm?1)\s+(?P<line>\d+)\s+(?P<msg>.*)$",
        _Sev("sev", {"Error": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "rule": "rule"},
        (("^PS",),),
    ),
    _one(
        "puppet", "puppet", "deploy",
        "puppet: `Error: msg (file: /p/site.pp, line: 10, column: 5)`.",
        r"^(?P<sev>Error|Warning): (?P<msg>.*?) \(file: (?P<file>[^,]+), line: (?P<line>\d+)(?:, column: (?P<col>\d+))?\)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("^Error: ", "^Warning: "), ("(file:",)),
    ),
    _one(
        "pylint", "pylint", "lint",
        "pylint: `module.py:10:5: C0301: Line too long (105/100) (line-too-long)`.",
        r"^(?P<file>[^\s:][^:]*):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<code>(?P<sev>[CRWEF])\d{4}):\s*(?P<msg>.*?)\s*\((?P<rule>[\w-]+)\)$",
        _Sev("sev", {"E": "error", "F": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code", "rule": "rule"},
        ((":",), ("(",)),
    ),
    _one(
        "python_unittest", "unittest", "test",
        "python unittest: `FAIL: test_x (tests.test_mod.TestCase)` headers\n"
        "(the traceback detail belongs to python_traceback).",
        r"^(?P<kind>FAIL|ERROR): (?P<test>\w+) \((?P<cls>[\w.]+)\)$",
        "error",
        {"message": "{kind}: {cls}.{test}", "test_name": "{cls}.{test}"},
        (("^FAIL: ", "^ERROR: "),),
        event_type="test_result",
    ),
    _one(
        "rubocop", "rubocop", "lint",
        "rubocop: `app.rb:10:5: C: Style/FrozenStringLiteral: msg`.",
        r"^(?P<file>[^\s:][^:]*\.rb):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<sev>[CWEF]):\s*(?:\[Correctable\]\s*)?(?P<rule>[\w/]+):\s*(?P<msg>.*)$",
        _Sev("sev", {"E": "error", "F": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".rb:",),),
    ),
    _one(
        "ruby_traceback", "ruby", "runtime",
        "ruby runtime: `script.rb:10:in \\`foo': msg (RuntimeError)` — only\n"
        "the frame carrying a message+class yields an event.",
        r"^(?P<file>[^\s:]+\.rb):(?P<line>\d+):in [`'](?P<fn>[^']+)'?:?\s*(?P<msg>.*?)\s*(?:\((?P<code>\w+)\))?$",
        "error",
        {"message": "msg", "file": "file", "line": "line", "code": "code"},
        ((".rb:",), ("in ",)),
        need=("msg", "code"),
    ),
    _one(
        "ruff", "ruff", "lint",
        "ruff: `src/a.py:10:5: F401 [*] unused import`.",
        r"^(?P<file>[^\s:][^:]*):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<code>[A-Z]{1,4}\d{3,4})\s+(?:\[\*\]\s+)?(?P<msg>.*)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code", "rule": "code"},
        ((":",),),
    ),
    _one(
        "sbt", "scalac", "compile",
        "sbt/scalac: `[error] /path/Foo.scala:10:5: not found: value x`.",
        r"^\[(?P<sev>error|warn)\]\s+(?P<file>[^\s:]+\.scala):(?P<line>\d+):(?:(?P<col>\d+):)?\s*(?P<msg>.*)$",
        _Sev("sev", {"error": "error"}, "warning"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("^[error]", "^[warn]"), (".scala:",)),
    ),
    _one(
        "scalastyle", "scalastyle", "lint",
        "scalastyle: `error file=/p/Foo.scala message=msg line=10 column=5`.",
        r"^(?P<sev>error|warning) file=(?P<file>[^\s]+) message=(?P<msg>.*?)"
        r"(?: line=(?P<line>\d+))?(?: column=(?P<col>\d+))?$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        (("^error file=", "^warning file="),),
    ),
    _one(
        "solhint", "solhint", "lint",
        "solhint: `contracts/Token.sol:10:5: Error: msg [rule]`.",
        r"^(?P<file>[^\s:]+\.sol):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<sev>Error|Warning):\s*(?P<msg>.*?)\s*\[(?P<rule>[\w-]+)\]$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".sol:",),),
    ),
    _one(
        "sphinx", "sphinx", "docs",
        "sphinx-build: `/docs/index.rst:10: WARNING: undefined label: foo`.",
        r"^(?P<file>[^\s:]+\.(?:rst|md|txt|py)):(?P<line>\d+): (?P<sev>WARNING|ERROR|SEVERE): (?P<msg>.*)$",
        _Sev("sev", {"WARNING": "warning"}, "error"),
        {"message": "msg", "file": "file", "line": "line"},
        (("WARNING:", "ERROR:", "SEVERE:"),),
    ),
    _one(
        "spotbugs", "spotbugs", "lint",
        "spotbugs text: `M D NP: msg  At Foo.java:[line 10]`.",
        r"^[MH]\s+[A-Z]\s+(?P<rule>\w+): (?P<msg>.*?)\s+At (?P<file>[\w./$]+\.java):\[line (?P<line>\d+)\]$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "rule": "rule"},
        (("At ",), (".java:[line",)),
    ),
    # the trailing check code (SA4006) tells it apart from golangci-lint's
    # `(lintername)`
    _one(
        "staticcheck", "staticcheck", "lint",
        "staticcheck: `main.go:10:5: msg (SA4006)` — go file:line:col with a",
        r"^(?P<file>[^\s:]+\.go):(?P<line>\d+):(?P<col>\d+): (?P<msg>.*?) \((?P<code>(?:S|SA|ST|U|QF)\d+)\)$",
        "warning",
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        ((".go:",), ("(",)),
    ),
    _one(
        "swiftc", "swiftc", "compile",
        "swiftc: gcc shape keyed on the .swift extension.",
        r"^(?P<file>[^\s:][^:]*\.swift):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<sev>error|warning|note):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".swift:",), ("error:", "warning:", "note:")),
    ),
    _one(
        "swiftlint", "swiftlint", "lint",
        "swiftlint: swiftc shape + trailing `(rule_id)`.",
        r"^(?P<file>[^\s:]+\.swift):(?P<line>\d+):(?P<col>\d+): "
        r"(?P<sev>error|warning): (?P<msg>.*?) \((?P<rule>[\w_]+)\)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "rule": "rule"},
        ((".swift:",), ("(",)),
    ),
    _one(
        "tsc", "tsc", "compile",
        "TypeScript compiler: `src/a.ts(10,5): error TS2304: message`.",
        r"^(?P<file>[^\s(][^(]*)\((?P<line>\d+),(?P<col>\d+)\):\s*"
        r"(?P<sev>error|warning)\s+(?P<code>TS\d+):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        (("TS",), ("error", "warning")),
    ),
    _one(
        "verilator", "verilator", "compile",
        "verilator: `%Error: top.v:10:5: msg` / `%Warning-WIDTH: ...`.",
        r"^%(?P<sev>Error|Warning)(?:-(?P<code>[A-Z]+))?: (?P<file>[^\s:]+):(?P<line>\d+):(?:(?P<col>\d+):)?\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col", "code": "code"},
        (("^%Error", "^%Warning"),),
    ),
    # `name` is the test name with "-[] " stripped from both ends: it
    # runs from the first to the last word character
    _Row(
        "xcodebuild",
        "xcodebuild: swiftc-shaped diagnostics are covered by the swiftc\n"
        "format; this one owns `** BUILD FAILED **` and test-case results.",
        (
            _Rule(
                "xcodebuild", "build", r"^\*\* (?P<what>BUILD|TEST) FAILED \*\*$", "error",
                {"message": "{what} FAILED"},
                (("^** ",),),
                event_type="task_result",
            ),
            _Rule(
                "xcodebuild", "test",
                r"^(?:Test Case )?'(?P<test>(?!')[-\[\] ]*(?P<name>\w(?:[-\[\]\w ]*\w)?)?[-\[\] ]*)' "
                r"failed(?: \([\d.]+ seconds\))?\.?$",
                "error",
                {"message": "test failed: {test}", "test_name": "{name}"},
                (("'",), ("failed",)),
                event_type="test_result",
            ),
        ),
    ),
    _one(
        "zig", "zig", "compile",
        "zig: `src/main.zig:10:5: error: use of undeclared identifier 'foo'`.",
        r"^(?P<file>[^\s:]+\.zig):(?P<line>\d+):(?P<col>\d+):\s*"
        r"(?P<sev>error|note):\s*(?P<msg>.*)$",
        _Sev("sev"),
        {"message": "msg", "file": "file", "line": "line", "col": "col"},
        ((".zig:",),),
    ),
)


def _rule_emitter(rule: _Rule):
    """One rule's (match, emit): emit(m, i) builds the event of line i
    from the pattern's match m, or None when a `need` group is empty."""
    rx = re.compile(rule.pattern)
    sev = rule.sev
    fields = []
    for f, v in rule.fields.items():
        parts = _template(v)
        groups = [v] if parts is None else [g for _lit, g in parts if g]
        assert set(groups) <= set(rx.groupindex), (rule.tool, f, v)
        fields.append((f, v, parts is not None))

    def emit(m: re.Match, i: int) -> dict | None:
        if not all(m[g] for g in rule.need):
            return None
        if isinstance(sev, str):
            severity = sev
        elif sev.map is None:
            severity = _norm_severity(m[sev.group])
        else:
            severity = sev.map.get(m[sev.group], sev.default)
        kw = {f: v.format_map(m.groupdict("")) if tpl else m[v] for f, v, tpl in fields}
        for f in ("line", "col"):
            if f in kw:
                kw[f] = int(kw[f]) if kw[f] else None
        return _event(
            rule.tool, rule.category, severity, kw.pop("message"), i,
            event_type=rule.event_type, **kw,
        )

    return rx.match, emit


def _row_parser(row: _Row):
    """Compile one rule row into its Python matcher (lines -> events):
    the first rule whose pattern matches a line claims the line. Each
    rule maps its pattern over all lines, and compress/filter pick out
    the matched lines, so a line no rule matches costs no bytecode."""
    rules = [_rule_emitter(r) for r in row.rules]

    def parse(lines: list[str]) -> Iterator[dict]:
        claimed: dict[int, tuple] = {}
        for match, emit in rules:
            ms = list(map(match, lines))
            for i, m in zip(compress(count(1), ms), filter(None, ms)):
                claimed.setdefault(i, (emit, m))
        for i in sorted(claimed):
            emit, m = claimed[i]
            ev = emit(m, i)
            if ev is not None:
                yield ev

    parse.__name__ = f"parse_{row.key}"
    parse.__doc__ = row.doc
    return parse


_ROW_BY_KEY = {r.key: r for r in _ROWS}
_ROW_PARSE = {r.key: _row_parser(r) for r in _ROWS}


# --- hand-written parsers (line-oriented, minimal state) ---------------------


_PYTEST_FAILED_RE = re.compile(
    r"^(?P<sev>FAILED|ERROR)\s+(?P<file>[^\s:]+)::(?P<test>[^\s]+?)(?:\s+-\s+(?P<msg>.*))?$"
)
_PYTEST_ASSERT_RE = re.compile(r"^E\s+(?P<msg>.+)$")
_PYTEST_SUMMARY_RE = re.compile(r"=+ (?P<failed>\d+) failed.*? =+$")


def parse_pytest(lines: list[str]) -> Iterator[dict]:
    for i, ln in enumerate(lines, 1):
        m = _PYTEST_FAILED_RE.match(ln)
        if m:
            yield _event(
                "pytest",
                "test",
                "error",
                m["msg"] or f"{m['sev']} {m['test']}",
                i,
                file=m["file"],
                test_name=m["test"],
                event_type="test_result",
            )
            continue
        m = _PYTEST_ASSERT_RE.match(ln)
        if m:
            yield _event("pytest", "test", "error", m["msg"], i)


_ESLINT_FILE_RE = re.compile(r"^(?P<file>[^\s].*\.(?:js|jsx|ts|tsx|mjs|cjs|vue))$")
_ESLINT_ISSUE_RE = re.compile(
    r"^\s+(?P<line>\d+):(?P<col>\d+)\s+(?P<sev>error|warning)\s+(?P<msg>.*?)\s{2,}(?P<rule>[\w@/-]+)$"
)


def parse_eslint(lines: list[str]) -> Iterator[dict]:
    current: str | None = None
    for i, ln in enumerate(lines, 1):
        fm = _ESLINT_FILE_RE.match(ln)
        if fm:
            current = fm["file"]
            continue
        m = _ESLINT_ISSUE_RE.match(ln)
        if m and current:
            yield _event(
                "eslint",
                "lint",
                _norm_severity(m["sev"]),
                m["msg"],
                i,
                file=current,
                line=int(m["line"]),
                col=int(m["col"]),
                rule=m["rule"],
            )


_PYTB_FILE_RE = re.compile(r'^\s*File "(?P<file>[^"]+)", line (?P<line>\d+)(?:, in (?P<fn>.+))?$')
_PYTB_ERR_RE = re.compile(r"^(?P<code>[A-Z][A-Za-z0-9_.]*(?:Error|Exception|Warning)):\s*(?P<msg>.*)$")


def parse_python_traceback(lines: list[str]) -> Iterator[dict]:
    last_frame: tuple[str, int, int] | None = None  # file, line, log line
    tb_start: int | None = None
    for i, ln in enumerate(lines, 1):
        if ln.startswith("Traceback (most recent call last)"):
            tb_start = i
            continue
        fm = _PYTB_FILE_RE.match(ln)
        if fm:
            last_frame = (fm["file"], int(fm["line"]), i)
            continue
        em = _PYTB_ERR_RE.match(ln)
        if em and last_frame:
            yield _event(
                "python",
                "runtime",
                "error",
                em["msg"] or em["code"],
                tb_start or last_frame[2],
                file=last_frame[0],
                line=last_frame[1],
                code=em["code"],
                end_line_no=i,
            )
            last_frame, tb_start = None, None


_RUST_ERR_RE = re.compile(r"^(?P<sev>error|warning)(?:\[(?P<code>E\d+)\])?:\s*(?P<msg>.*)$")
_RUST_LOC_RE = re.compile(r"^\s*-->\s*(?P<file>[^:]+):(?P<line>\d+):(?P<col>\d+)\s*$")


def parse_rustc(lines: list[str]) -> Iterator[dict]:
    pending: tuple[dict, int] | None = None
    for i, ln in enumerate(lines, 1):
        m = _RUST_ERR_RE.match(ln)
        if m:
            if pending:
                yield pending[0]
            ev = _event(
                "rustc", "compile", _norm_severity(m["sev"]), m["msg"], i, code=m["code"]
            )
            pending = (ev, i)
            continue
        lm = _RUST_LOC_RE.match(ln)
        if lm and pending:
            ev, start = pending
            ev.update(
                ref_file=lm["file"], ref_line=int(lm["line"]), ref_column=int(lm["col"]),
                log_line_end=i,
            )
            yield ev
            pending = None
    if pending:
        yield pending[0]


_GO_FAIL_RE = re.compile(r"^--- FAIL: (?P<test>\S+)")
_GO_LOC_RE = re.compile(r"^\s+(?P<file>[\w./-]+\.go):(?P<line>\d+):\s*(?P<msg>.*)$")


def parse_go_test(lines: list[str]) -> Iterator[dict]:
    current_test: str | None = None
    for i, ln in enumerate(lines, 1):
        m = _GO_FAIL_RE.match(ln)
        if m:
            current_test = m["test"]
            yield _event(
                "go", "test", "error", f"FAIL: {m['test']}", i,
                test_name=m["test"], event_type="test_result",
            )
            continue
        lm = _GO_LOC_RE.match(ln)
        if lm and current_test:
            yield _event(
                "go", "test", "error", lm["msg"], i,
                file=lm["file"], line=int(lm["line"]), test_name=current_test,
            )


_GENERIC_RE = re.compile(
    r"(?i)\b(?P<sev>error|warning|fatal)\b[:\s]+(?P<msg>.*)$"
)


def parse_generic(lines: list[str]) -> Iterator[dict]:
    """Fallback: any line mentioning error/warning/fatal (the reference's
    last-resort format in the fallback chain, core.py:2037-2102)."""
    for i, ln in enumerate(lines, 1):
        m = _GENERIC_RE.search(ln)
        if m and m["msg"]:
            yield _event("generic", "log", _norm_severity(m["sev"]), m["msg"], i)


_ANSIBLE_FATAL_RE = re.compile(
    r"^(?P<sev>fatal|failed): \[(?P<host>[^\]]+)\](?:\s*\(item=[^)]*\))?: (?P<msg>.*)$"
)
_ANSIBLE_TASK_RE = re.compile(r"^TASK \[(?P<task>[^\]]+)\]")


def parse_ansible(lines: list[str]) -> Iterator[dict]:
    """ansible-playbook: `fatal: [host]: FAILED! => {...}` attributed to
    the preceding `TASK [name]` header."""
    task = None
    for i, ln in enumerate(lines, 1):
        tm = _ANSIBLE_TASK_RE.match(ln)
        if tm:
            task = tm["task"]
            continue
        m = _ANSIBLE_FATAL_RE.match(ln)
        if m:
            yield _event(
                "ansible",
                "deploy",
                "error",
                m["msg"],
                i,
                test_name=task,
                code=m["host"],
            )


_JAVA_EXC_RE = re.compile(
    r"^(?:Exception in thread \"[^\"]+\" )?(?P<exc>[\w.$]+(?:Exception|Error))(?::\s*(?P<msg>.*))?$"
)
_JAVA_AT_RE = re.compile(
    r"^\s+at\s+(?P<frame>[\w.$<>]+)\((?P<file>[^:)]+)(?::(?P<line>\d+))?\)"
)


def parse_java_stacktrace(lines: list[str]) -> Iterator[dict]:
    """JVM stack traces: exception header + first `at Frame(File.java:42)`
    frame for the location; `Caused by:` chains yield separate events."""
    i = 0
    n = len(lines)
    while i < n:
        ln = lines[i]
        stripped = ln[len("Caused by: "):] if ln.startswith("Caused by: ") else ln
        m = _JAVA_EXC_RE.match(stripped)
        if m and "." in m["exc"]:
            file = line_no = None
            j = i + 1
            while j < n:
                fm = _JAVA_AT_RE.match(lines[j])
                if not fm:
                    break
                if file is None and fm["line"]:
                    file, line_no = fm["file"], int(fm["line"])
                j += 1
            if j > i + 1:  # only with at least one stack frame
                yield _event(
                    "java",
                    "runtime",
                    "error",
                    m["msg"] or m["exc"],
                    i + 1,
                    file=file,
                    line=line_no,
                    code=m["exc"].rsplit(".", 1)[-1],
                    end_line_no=j,
                )
                i = j
                continue
        i += 1


_NPM_ERR_RE = re.compile(r"^npm (?P<sev>ERR!|WARN)\s+(?:(?P<code>[A-Z_]+)\s+)?(?P<msg>.*)$")


def parse_npm(lines: list[str]) -> Iterator[dict]:
    """npm: `npm ERR! code ELIFECYCLE` / `npm WARN deprecated ...`;
    consecutive ERR! lines collapse into one event (first line wins)."""
    prev_err = False
    for i, ln in enumerate(lines, 1):
        m = _NPM_ERR_RE.match(ln)
        if not m:
            prev_err = False
            continue
        is_err = m["sev"] == "ERR!"
        if is_err and prev_err:
            continue  # continuation of the same failure report
        msg, code = m["msg"], m["code"]
        # `npm ERR! code ELIFECYCLE` — the failure code line
        cm = re.match(r"^code\s+(?P<c>[A-Z_][A-Z0-9_]*)$", msg or "")
        if cm:
            code, msg = cm["c"], f"code {cm['c']}"
        if (msg or "").strip() or code:
            yield _event(
                "npm",
                "build",
                "error" if is_err else "warning",
                msg or code,
                i,
                code=code,
            )
        prev_err = is_err


_DOCKER_ERR_RE = re.compile(
    r"^(?:failed to solve: |ERROR: Service ['\"]|ERROR: failed to )(?P<msg>.*)$"
)
_DOCKER_STEP_RE = re.compile(r"^(?:Step \d+/\d+|#\d+(?: \d+\.\d+)?)\s+ERROR\b:?\s*(?P<msg>.*)$")


def parse_docker_build(lines: list[str]) -> Iterator[dict]:
    """docker build (classic + buildkit): `failed to solve: ...` /
    `#7 1.23 ERROR: ...` / `ERROR: Service '...' failed` lines. A bare
    `ERROR: msg` with no docker marker stays with the generic format."""
    for i, ln in enumerate(lines, 1):
        m = _DOCKER_STEP_RE.match(ln) or _DOCKER_ERR_RE.match(ln)
        if m and (m["msg"].strip() or not ln.startswith("#")):
            yield _event("docker", "build", "error", m["msg"] or ln.strip(), i)


_TF_HEAD_RE = re.compile(r"^(?P<sev>Error|Warning): (?P<msg>.+)$")
_TF_ON_RE = re.compile(r"^\s+on (?P<file>[^\s]+) line (?P<line>\d+)")


def parse_terraform(lines: list[str]) -> Iterator[dict]:
    """terraform: `Error: msg` header + `  on main.tf line 5:` location."""
    for i, ln in enumerate(lines, 1):
        m = _TF_HEAD_RE.match(ln)
        if not m:
            continue
        file = line_no = None
        end = i
        for j in range(i, min(i + 5, len(lines))):
            lm = _TF_ON_RE.match(lines[j])
            if lm:
                file, line_no, end = lm["file"], int(lm["line"]), j + 1
                break
        yield _event(
            "terraform",
            "build",
            _norm_severity(m["sev"].lower()),
            m["msg"],
            i,
            file=file,
            line=line_no,
            end_line_no=end,
        )


_CMAKE_HEAD_RE = re.compile(
    r"^CMake (?P<sev>Error|Warning)(?: \(dev\))? at (?P<file>[^\s:]+):(?P<line>\d+)(?:\s*\((?P<fn>[^)]+)\))?:"
)


def parse_cmake(lines: list[str]) -> Iterator[dict]:
    """cmake: `CMake Error at CMakeLists.txt:14 (message):` + indented body."""
    for i, ln in enumerate(lines, 1):
        m = _CMAKE_HEAD_RE.match(ln)
        if m:
            # message body = following indented lines
            body = []
            j = i
            while j < len(lines) and (lines[j].startswith("  ") or not lines[j].strip()):
                if lines[j].strip():
                    body.append(lines[j].strip())
                j += 1
            yield _event(
                "cmake",
                "build",
                _norm_severity(m["sev"].lower()),
                " ".join(body) or f"CMake {m['sev']}",
                i,
                file=m["file"],
                line=int(m["line"]),
                code=m["fn"],
                end_line_no=j if body else i,
            )


_GRADLE_TASK_RE = re.compile(r"^> Task (?P<task>[^\s]+) FAILED$")
_GRADLE_WHAT_RE = re.compile(r"^\* What went wrong:$")


def parse_gradle(lines: list[str]) -> Iterator[dict]:
    """gradle: `> Task :mod:compileJava FAILED` + `* What went wrong:` body;
    javac file:line diagnostics inside the output match the gcc shape and
    are picked up by the gcc rule, so this parser only owns the
    task-level and build-level failures."""
    for i, ln in enumerate(lines, 1):
        m = _GRADLE_TASK_RE.match(ln)
        if m:
            yield _event(
                "gradle",
                "build",
                "error",
                f"task {m['task']} failed",
                i,
                test_name=m["task"],
                event_type="task_result",
            )
            continue
        if _GRADLE_WHAT_RE.match(ln) and i < len(lines):
            msg = lines[i].strip() if i < len(lines) else ""
            if msg:
                yield _event("gradle", "build", "error", msg, i + 1)


_JEST_FAIL_RE = re.compile(r"^\s*(?P<sev>FAIL|PASS)\s+(?P<file>[^\s]+)\s*$")
_JEST_TEST_RE = re.compile(r"^\s*[✕x●]\s+(?P<test>.+?)(?:\s+\(\d+\s*m?s\))?\s*$")


def parse_jest(lines: list[str]) -> Iterator[dict]:
    """Jest: `FAIL src/a.test.js` headers + `✕ test name (5 ms)` items."""
    current_file = None
    for i, ln in enumerate(lines, 1):
        m = _JEST_FAIL_RE.match(ln)
        if m:
            current_file = m["file"]
            if m["sev"] == "FAIL":
                yield _event(
                    "jest",
                    "test",
                    "error",
                    f"FAIL {m['file']}",
                    i,
                    file=m["file"],
                    event_type="test_result",
                )
            continue
        m = _JEST_TEST_RE.match(ln)
        if m and current_file:
            yield _event(
                "jest",
                "test",
                "error",
                m["test"],
                i,
                file=current_file,
                test_name=m["test"],
                event_type="test_result",
            )


_SHELLCHECK_FILE_RE = re.compile(r"^In (?P<file>.+) line (?P<line>\d+):$")
_SHELLCHECK_MSG_RE = re.compile(
    r"^\s*\^-*\^?\s*(?P<code>SC\d+)\s*(?:\((?P<sev>error|warning|info|style)\))?:\s*(?P<msg>.*)$"
)


def parse_shellcheck(lines: list[str]) -> Iterator[dict]:
    """shellcheck tty output: `In script.sh line 3:` then `^-- SC2086 (info): msg`."""
    current: tuple[str, int, int] | None = None
    for i, ln in enumerate(lines, 1):
        m = _SHELLCHECK_FILE_RE.match(ln)
        if m:
            current = (m["file"], int(m["line"]), i)
            continue
        m = _SHELLCHECK_MSG_RE.match(ln)
        if m and current:
            sev = m["sev"] or "warning"
            yield _event(
                "shellcheck",
                "lint",
                _norm_severity("warning" if sev in ("info", "style") else sev),
                m["msg"],
                current[2],
                file=current[0],
                line=current[1],
                code=m["code"],
                end_line_no=i,
            )


# --- batch 3 formats (duck_hunt breadth, reference core.py:2037-2102) --------


_JAVAC_RE = re.compile(
    r"^(?P<file>[^\s:][^:]*\.java):(?P<line>\d+):\s*(?P<sev>error|warning):\s*(?P<msg>.*)$"
)


def parse_javac(lines: list[str]) -> Iterator[dict]:
    """javac: `Main.java:10: error: ';' expected` (line only, no column);
    `symbol:`/`location:` detail lines extend the event span."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _JAVAC_RE.match(ln)
        if m:
            if pending:
                yield pending
            pending = _event(
                "javac",
                "compile",
                _norm_severity(m["sev"]),
                m["msg"],
                i,
                file=m["file"],
                line=int(m["line"]),
            )
            continue
        # continuation block: code echo, caret, symbol:/location: details
        if pending and (ln.startswith(" ") or ln.startswith("\t")) and ln.strip():
            pending["log_line_end"] = i
            continue
        if pending:
            yield pending
            pending = None
    if pending:
        yield pending


_CARGO_TEST_FAIL_RE = re.compile(r"^test (?P<test>[\w:]+) \.\.\. FAILED$")
_CARGO_PANIC_RE = re.compile(
    r"^thread '(?P<test>[^']+)' panicked at (?P<file>[^:]+):(?P<line>\d+):(?P<col>\d+):?$"
)


def parse_cargo_test(lines: list[str]) -> Iterator[dict]:
    """cargo test: `test mod::name ... FAILED` + the panic location line
    `thread 'mod::name' panicked at src/lib.rs:10:5:` (message follows)."""
    for i, ln in enumerate(lines, 1):
        m = _CARGO_TEST_FAIL_RE.match(ln)
        if m:
            yield _event(
                "cargo-test",
                "test",
                "error",
                f"FAILED: {m['test']}",
                i,
                test_name=m["test"],
                event_type="test_result",
            )
            continue
        m = _CARGO_PANIC_RE.match(ln)
        if m:
            msg = lines[i].strip() if i < len(lines) else "panicked"
            yield _event(
                "cargo-test",
                "test",
                "error",
                msg or "panicked",
                i,
                file=m["file"],
                line=int(m["line"]),
                col=int(m["col"]),
                test_name=m["test"],
                end_line_no=i + 1 if msg else i,
            )


_PHPUNIT_HEAD_RE = re.compile(r"^\d+\) (?P<cls>[\w\\]+)::(?P<test>\w+)$")
_PHPUNIT_LOC_RE = re.compile(r"^(?P<file>/[^:]+\.php):(?P<line>\d+)$")


def parse_phpunit(lines: list[str]) -> Iterator[dict]:
    """phpunit: `1) Cls::testX` + assertion message + `/path/Test.php:25`."""
    pending: tuple[dict, int] | None = None
    msg_parts: list[str] = []
    for i, ln in enumerate(lines, 1):
        m = _PHPUNIT_HEAD_RE.match(ln)
        if m:
            if pending:
                yield pending[0]
            ev = _event(
                "phpunit",
                "test",
                "error",
                "",
                i,
                test_name=f"{m['cls']}::{m['test']}",
                event_type="test_result",
            )
            pending, msg_parts = (ev, i), []
            continue
        if pending:
            lm = _PHPUNIT_LOC_RE.match(ln.strip())
            if lm:
                ev = pending[0]
                ev.update(ref_file=lm["file"], ref_line=int(lm["line"]), log_line_end=i)
                ev["message"] = " ".join(msg_parts) or ev["test_name"]
                ev["fingerprint"] = fingerprint_of("phpunit", None, ev["message"])
                yield ev
                pending = None
            elif ln.strip():
                msg_parts.append(ln.strip())
    if pending:
        ev = pending[0]
        ev["message"] = " ".join(msg_parts) or ev["test_name"]
        yield ev


_RSPEC_FAIL_RE = re.compile(r"^rspec (?P<file>[^\s:]+):(?P<line>\d+) # (?P<desc>.*)$")
_MINITEST_HEAD_RE = re.compile(r"^\s*\d+\) (?:Failure|Error):$")
_MINITEST_LOC_RE = re.compile(
    r"^(?P<test>[\w#:]+) \[(?P<file>[^\]:]+):(?P<line>\d+)\]:?$"
)


def parse_ruby_test(lines: list[str]) -> Iterator[dict]:
    """rspec failure summary lines (`rspec ./spec/x_spec.rb:10 # desc`) and
    minitest blocks (`1) Failure:` + `Test#method [file.rb:10]:`)."""
    expect_minitest = False
    for i, ln in enumerate(lines, 1):
        m = _RSPEC_FAIL_RE.match(ln)
        if m:
            yield _event(
                "rspec",
                "test",
                "error",
                m["desc"],
                i,
                file=m["file"],
                line=int(m["line"]),
                test_name=m["desc"],
                event_type="test_result",
            )
            continue
        if _MINITEST_HEAD_RE.match(ln):
            expect_minitest = True
            continue
        if expect_minitest:
            lm = _MINITEST_LOC_RE.match(ln.strip())
            if lm:
                msg = lines[i].strip() if i < len(lines) else ""
                yield _event(
                    "minitest",
                    "test",
                    "error",
                    msg or lm["test"],
                    i,
                    file=lm["file"],
                    line=int(lm["line"]),
                    test_name=lm["test"],
                    event_type="test_result",
                )
            expect_minitest = False


_JUNIT_CASE_RE = re.compile(r"<testcase\b[^>]*>")
_JUNIT_NAME_RE = re.compile(r"\bname=\"(?P<v>[^\"]+)\"")
_JUNIT_CLS_RE = re.compile(r"\bclassname=\"(?P<v>[^\"]+)\"")
_JUNIT_FAIL_RE = re.compile(r"<(?P<kind>failure|error)\b[^>]*/?>")
_JUNIT_MSG_RE = re.compile(r"\bmessage=\"(?P<v>[^\"]*)\"")


def parse_junit_xml(lines: list[str]) -> Iterator[dict]:
    """JUnit-style XML report text: `<testcase name=..>` followed by a
    `<failure message=..>` / `<error ..>` child. Line-oriented scan — a
    full XML parser is unnecessary for the report subset tools emit."""
    current: tuple[str, str | None, int] | None = None
    for i, ln in enumerate(lines, 1):
        cm = _JUNIT_CASE_RE.search(ln)
        if cm:
            tag = cm.group(0)
            nm = _JUNIT_NAME_RE.search(tag)
            cl = _JUNIT_CLS_RE.search(tag)
            if nm:
                current = (nm["v"], cl["v"] if cl else None, i)
        fm = _JUNIT_FAIL_RE.search(ln)
        if fm and current:
            test, cls, start = current
            name = f"{cls}.{test}" if cls else test
            mm = _JUNIT_MSG_RE.search(fm.group(0))
            yield _event(
                "junit",
                "test",
                "error",
                (mm["v"] if mm else "") or f"{fm['kind']} in {name}",
                start,
                test_name=name,
                event_type="test_result",
                end_line_no=i,
            )
            current = None


_MAKE_ERR_RE = re.compile(
    r"^make(?:\[\d+\])?: \*\*\* \[(?P<target>[^\]]+)\] (?P<msg>Error \d+.*)$"
)
_LD_UNDEF_RE = re.compile(
    r"^(?:(?P<obj>[^\s:]+):\s*)?(?:/[^\s:]*/)?ld: (?P<msg>.*)$|"
    r"^(?P<obj2>[^\s:]+):(?:[^:]+:)?\s*undefined reference to [`'](?P<sym>[^'`]+)'$"
)
_COLLECT2_RE = re.compile(r"^collect2: error: (?P<msg>.*)$")


def parse_make_ld(lines: list[str]) -> Iterator[dict]:
    """make/ld: `make: *** [Makefile:10: tgt] Error 2`, undefined-reference
    and collect2 link failures."""
    for i, ln in enumerate(lines, 1):
        m = _MAKE_ERR_RE.match(ln)
        if m:
            tgt = m["target"]
            file = line = None
            tm = re.match(r"^(?P<f>[^\s:]+):(?P<l>\d+): ", tgt + " ")
            if tm and ":" in tgt:
                file, line = tm["f"], int(tm["l"])
            yield _event(
                "make", "build", "error", m["msg"], i,
                file=file, line=line, test_name=tgt.split(":")[-1].strip() or None,
            )
            continue
        m = _LD_UNDEF_RE.match(ln)
        if m:
            msg = m["msg"] or f"undefined reference to '{m['sym']}'"
            yield _event("ld", "link", "error", msg, i, file=m["obj"] or m["obj2"])
            continue
        m = _COLLECT2_RE.match(ln)
        if m:
            yield _event("ld", "link", "error", m["msg"], i)


_YAMLLINT_FILE_RE = re.compile(r"^(?P<file>[^\s].*\.ya?ml)$")
_YAMLLINT_ISSUE_RE = re.compile(
    r"^\s+(?P<line>\d+):(?P<col>\d+)\s+(?P<sev>error|warning)\s+"
    r"(?P<msg>.*?)\s+\((?P<rule>[\w-]+)\)$"
)


def parse_yamllint(lines: list[str]) -> Iterator[dict]:
    """yamllint: file header + `  3:4  error  msg  (rule)` rows (the
    eslint two-level layout)."""
    current: str | None = None
    for i, ln in enumerate(lines, 1):
        fm = _YAMLLINT_FILE_RE.match(ln)
        if fm:
            current = fm["file"]
            continue
        m = _YAMLLINT_ISSUE_RE.match(ln)
        if m and current:
            yield _event(
                "yamllint",
                "lint",
                _norm_severity(m["sev"]),
                m["msg"],
                i,
                file=current,
                line=int(m["line"]),
                col=int(m["col"]),
                rule=m["rule"],
            )


_DOTNET_FAIL_RE = re.compile(r"^\s*Failed (?P<test>[\w.()]+) \[(?P<ms>[\d.]+) m?s\]$")
_DOTNET_MSG_RE = re.compile(r"^\s*Error Message:\s*$")
_DOTNET_AT_RE = re.compile(r"^\s*at .+ in (?P<file>[^:]+):line (?P<line>\d+)$")


def parse_dotnet_test(lines: list[str]) -> Iterator[dict]:
    """dotnet test: `Failed TestName [5 ms]` + `Error Message:` body +
    stack-trace `... in /path/File.cs:line 42` location."""
    pending: dict | None = None
    expect_msg = False
    for i, ln in enumerate(lines, 1):
        m = _DOTNET_FAIL_RE.match(ln)
        if m:
            if pending:
                yield pending
            pending = _event(
                "dotnet-test",
                "test",
                "error",
                f"Failed {m['test']}",
                i,
                test_name=m["test"],
                event_type="test_result",
            )
            expect_msg = False
            continue
        if pending is None:
            continue
        if _DOTNET_MSG_RE.match(ln):
            expect_msg = True
            continue
        if expect_msg and ln.strip():
            pending["message"] = ln.strip()
            pending["fingerprint"] = fingerprint_of("dotnet-test", None, ln.strip())
            expect_msg = False
            continue
        am = _DOTNET_AT_RE.match(ln)
        if am:
            pending.update(
                ref_file=am["file"], ref_line=int(am["line"]), log_line_end=i
            )
            yield pending
            pending = None
    if pending:
        yield pending


_VALGRIND_HEAD_RE = re.compile(
    r"^==\d+==\s+(?P<msg>Invalid (?:read|write) of size \d+|"
    r"Conditional jump or move depends on uninitialised value.*|"
    r"\d+ bytes in \d+ blocks are definitely lost.*|"
    r"Use of uninitialised value of size \d+|Invalid free.*|Mismatched free.*)$"
)
_VALGRIND_AT_RE = re.compile(
    r"^==\d+==\s+(?:at|by) 0x[0-9A-Fa-f]+: (?P<fn>[^\s(]+) \((?P<file>[^:)]+):(?P<line>\d+)\)$"
)


def parse_valgrind(lines: list[str]) -> Iterator[dict]:
    """valgrind memcheck: error head (`==pid== Invalid read of size 4`) +
    first source-located frame in the following backtrace."""
    pending: tuple[dict, int] | None = None
    for i, ln in enumerate(lines, 1):
        m = _VALGRIND_HEAD_RE.match(ln)
        if m:
            if pending:
                yield pending[0]
            pending = (
                _event("valgrind", "memcheck", "error", m["msg"], i),
                i,
            )
            continue
        if pending:
            am = _VALGRIND_AT_RE.match(ln)
            if am:
                ev, _ = pending
                ev.update(
                    ref_file=am["file"], ref_line=int(am["line"]), log_line_end=i
                )
                yield ev
                pending = None
            elif not ln.startswith("==") or not ln.strip():
                yield pending[0]
                pending = None
    if pending:
        yield pending[0]


# --- batch 4 formats ---------------------------------------------------------


_SQLFLUFF_FILE_RE = re.compile(r"^==\s*\[(?P<file>[^\]]+)\]\s*(?:FAIL|PASS)")
_SQLFLUFF_ISSUE_RE = re.compile(
    r"^L:\s*(?P<line>\d+)\s*\|\s*P:\s*(?P<col>\d+)\s*\|\s*(?P<code>\w+)\s*\|\s*(?P<msg>.*)$"
)


def parse_sqlfluff(lines: list[str]) -> Iterator[dict]:
    """sqlfluff: `== [models/a.sql] FAIL` + `L: 10 | P: 5 | L010 | msg`."""
    current: str | None = None
    for i, ln in enumerate(lines, 1):
        fm = _SQLFLUFF_FILE_RE.match(ln)
        if fm:
            current = fm["file"]
            continue
        m = _SQLFLUFF_ISSUE_RE.match(ln)
        if m:
            yield _event(
                "sqlfluff",
                "lint",
                "warning",
                m["msg"],
                i,
                file=current,
                line=int(m["line"]),
                col=int(m["col"]),
                code=m["code"],
            )


_STYLELINT_FILE_RE = re.compile(r"^(?P<file>[^\s].*\.(?:css|scss|less|sass))$")
_STYLELINT_ISSUE_RE = re.compile(
    r"^\s+(?P<line>\d+):(?P<col>\d+)\s+(?:✖|x)\s+(?P<msg>.*?)\s{2,}(?P<rule>[\w-]+)$"
)


def parse_stylelint(lines: list[str]) -> Iterator[dict]:
    """stylelint: eslint-style two-level layout over stylesheet files."""
    current: str | None = None
    for i, ln in enumerate(lines, 1):
        fm = _STYLELINT_FILE_RE.match(ln)
        if fm:
            current = fm["file"]
            continue
        m = _STYLELINT_ISSUE_RE.match(ln)
        if m and current:
            yield _event(
                "stylelint",
                "lint",
                "error",
                m["msg"],
                i,
                file=current,
                line=int(m["line"]),
                col=int(m["col"]),
                rule=m["rule"],
            )


_ELIXIR_ERR_RE = re.compile(
    r"^\*\* \((?P<code>\w+(?:Error)?)\) (?P<file>[^\s:]+\.exs?):(?P<line>\d+):?\s*(?P<msg>.*)$"
)
_ELIXIR_WARN_RE = re.compile(r"^warning: (?P<msg>.*)$")
_ELIXIR_LOC_RE = re.compile(r"^\s+(?P<file>[^\s:]+\.exs?):(?P<line>\d+)(?::\s*(?P<ctx>.*))?$")


def parse_elixir(lines: list[str]) -> Iterator[dict]:
    """elixir/mix: `** (CompileError) lib/app.ex:10: msg` plus
    `warning: msg` + indented `lib/app.ex:12: Mod.fun/1` location."""
    pending_warn: tuple[str, int] | None = None
    for i, ln in enumerate(lines, 1):
        m = _ELIXIR_ERR_RE.match(ln)
        if m:
            yield _event(
                "elixir", "compile", "error", m["msg"] or m["code"], i,
                file=m["file"], line=int(m["line"]), code=m["code"],
            )
            continue
        m = _ELIXIR_WARN_RE.match(ln)
        if m:
            pending_warn = (m["msg"], i)
            continue
        if pending_warn:
            lm = _ELIXIR_LOC_RE.match(ln)
            if lm:
                msg, start = pending_warn
                yield _event(
                    "elixir", "compile", "warning", msg, start,
                    file=lm["file"], line=int(lm["line"]), end_line_no=i,
                )
            pending_warn = None


_VITEST_FILE_RE = re.compile(
    r"^\s*[❯✓×x]?\s*(?P<file>[^\s]+\.(?:test|spec)\.[jt]sx?)\s+\(\d+ tests?(?: \| (?P<failed>\d+) failed)?\)"
)
_VITEST_ITEM_RE = re.compile(r"^\s*[×x]\s+(?P<test>.+?)(?:\s+\d+m?s)?\s*$")
_VITEST_FAIL_RE = re.compile(r"^\s*FAIL\s+(?P<file>[^\s>]+)\s*>\s*(?P<test>.+)$")


def parse_vitest(lines: list[str]) -> Iterator[dict]:
    """vitest: `❯ src/a.test.ts (3 tests | 1 failed)` headers with `× name`
    items, and `FAIL file > test` summary lines."""
    current: str | None = None
    for i, ln in enumerate(lines, 1):
        m = _VITEST_FAIL_RE.match(ln)
        if m:
            yield _event(
                "vitest", "test", "error", m["test"], i,
                file=m["file"], test_name=m["test"], event_type="test_result",
            )
            continue
        fm = _VITEST_FILE_RE.match(ln)
        if fm:
            current = fm["file"] if fm["failed"] else None
            continue
        im = _VITEST_ITEM_RE.match(ln)
        if im and current:
            yield _event(
                "vitest", "test", "error", im["test"], i,
                file=current, test_name=im["test"], event_type="test_result",
            )


# Key order is part of the contract: diagnose (and its JVM twin) breaks
# ties by registry position.
FORMATS: dict[str, callable] = {
    "gcc": _ROW_PARSE["gcc"],
    "pytest": parse_pytest,
    "mypy": _ROW_PARSE["mypy"],
    "eslint": parse_eslint,
    "python_traceback": parse_python_traceback,
    "rustc": parse_rustc,
    "go_test": parse_go_test,
    "maven": _ROW_PARSE["maven"],
    "tsc": _ROW_PARSE["tsc"],
    "msbuild": _ROW_PARSE["msbuild"],
    "java_stacktrace": parse_java_stacktrace,
    "golangci_lint": _ROW_PARSE["golangci_lint"],
    "ansible": parse_ansible,
    "npm": parse_npm,
    "docker_build": parse_docker_build,
    "terraform": parse_terraform,
    "cmake": parse_cmake,
    "gradle": parse_gradle,
    "jest": parse_jest,
    "shellcheck": parse_shellcheck,
    "ruff": _ROW_PARSE["ruff"],
    "clang_tidy": _ROW_PARSE["clang_tidy"],
    "javac": parse_javac,
    "kotlinc": _ROW_PARSE["kotlinc"],
    "pylint": _ROW_PARSE["pylint"],
    "flake8": _ROW_PARSE["flake8"],
    "black_isort": _ROW_PARSE["black_isort"],
    "cargo_test": parse_cargo_test,
    "phpunit": parse_phpunit,
    "ruby_test": parse_ruby_test,
    "junit_xml": parse_junit_xml,
    "swiftc": _ROW_PARSE["swiftc"],
    "nvcc": _ROW_PARSE["nvcc"],
    "make_ld": parse_make_ld,
    "yamllint": parse_yamllint,
    "markdownlint": _ROW_PARSE["markdownlint"],
    "sbt": _ROW_PARSE["sbt"],
    "dotnet_test": parse_dotnet_test,
    "pip_resolver": _ROW_PARSE["pip_resolver"],
    "valgrind": parse_valgrind,
    "vitest": parse_vitest,
    "cppcheck": _ROW_PARSE["cppcheck"],
    "rubocop": _ROW_PARSE["rubocop"],
    "checkstyle": _ROW_PARSE["checkstyle"],
    "ktlint": _ROW_PARSE["ktlint"],
    "hadolint": _ROW_PARSE["hadolint"],
    "sqlfluff": parse_sqlfluff,
    "bazel": _ROW_PARSE["bazel"],
    "luacheck": _ROW_PARSE["luacheck"],
    "actionlint": _ROW_PARSE["actionlint"],
    "protoc": _ROW_PARSE["protoc"],
    "zig": _ROW_PARSE["zig"],
    "php_lint": _ROW_PARSE["php_lint"],
    "stylelint": parse_stylelint,
    "elixir": parse_elixir,
    "xcodebuild": _ROW_PARSE["xcodebuild"],
    "generic": parse_generic,
}

# command-string -> format hints (reference
# duck_hunt_match_command_patterns, core.py:1031-1078)
_COMMAND_PATTERNS = [
    # clang-tidy/javac get their own formats below; make output is
    # dominated by the compiler's gcc-shaped diagnostics
    (re.compile(r"\b(gcc|g\+\+|clang(?!-tidy)|cc|make)\b"), "gcc"),
    (re.compile(r"\bpytest\b|\bpy\.test\b"), "pytest"),
    (re.compile(r"\bmypy\b"), "mypy"),
    (re.compile(r"\beslint\b"), "eslint"),
    (re.compile(r"\bcargo (test|nextest)\b"), "cargo_test"),
    (re.compile(r"\bcargo\b|\brustc\b"), "rustc"),
    (re.compile(r"\bgo test\b"), "go_test"),
    (re.compile(r"\bmvn\b|\bmaven\b"), "maven"),
    (re.compile(r"\btsc\b"), "tsc"),
    (re.compile(r"\b(msbuild|dotnet build|csc)\b"), "msbuild"),
    (re.compile(r"\bcmake\b"), "cmake"),
    (re.compile(r"\bnpm\b"), "npm"),
    (re.compile(r"\bdocker build\b|\bbuildx\b"), "docker_build"),
    (re.compile(r"\bterraform\b"), "terraform"),
    (re.compile(r"\bgolangci-lint\b"), "golangci_lint"),
    (re.compile(r"\bansible(-playbook)?\b(?!-lint)"), "ansible"),
    (re.compile(r"^\s*java\s"), "java_stacktrace"),
    (re.compile(r"\bgradlew?\b"), "gradle"),
    (re.compile(r"\bvitest\b"), "vitest"),
    (re.compile(r"\bjest\b"), "jest"),
    (re.compile(r"\bshellcheck\b"), "shellcheck"),
    (re.compile(r"\bruff\b"), "ruff"),
    (re.compile(r"\bclang-tidy\b"), "clang_tidy"),
    (re.compile(r"\bjavac\b"), "javac"),
    (re.compile(r"\bkotlinc\b"), "kotlinc"),
    (re.compile(r"\bpylint\b"), "pylint"),
    (re.compile(r"\bflake8\b|\bpycodestyle\b"), "flake8"),
    (re.compile(r"\bblack\b|\bisort\b"), "black_isort"),
    (re.compile(r"\bcargo (test|nextest)\b"), "cargo_test"),
    (re.compile(r"\bphpunit\b"), "phpunit"),
    (re.compile(r"\brspec\b|\bminitest\b|\brails test\b"), "ruby_test"),
    (re.compile(r"\bswiftc?\b"), "swiftc"),
    (re.compile(r"\bnvcc\b"), "nvcc"),
    (re.compile(r"\byamllint\b"), "yamllint"),
    (re.compile(r"\bmarkdownlint\b|\bmdl\b"), "markdownlint"),
    (re.compile(r"\bsbt\b|\bscalac\b"), "sbt"),
    (re.compile(r"\bdotnet test\b"), "dotnet_test"),
    (re.compile(r"\b(pip3?|uv pip|uv add|uv sync)\b"), "pip_resolver"),
    (re.compile(r"\bvalgrind\b"), "valgrind"),
    (re.compile(r"\bcppcheck\b"), "cppcheck"),
    (re.compile(r"\brubocop\b"), "rubocop"),
    (re.compile(r"\bcheckstyle\b"), "checkstyle"),
    (re.compile(r"\bktlint\b"), "ktlint"),
    (re.compile(r"\bhadolint\b"), "hadolint"),
    (re.compile(r"\bsqlfluff\b"), "sqlfluff"),
    (re.compile(r"\bbazel\b"), "bazel"),
    (re.compile(r"\bluacheck\b"), "luacheck"),
    (re.compile(r"\bactionlint\b"), "actionlint"),
    (re.compile(r"\bprotoc\b|\bbuf (build|lint)\b"), "protoc"),
    (re.compile(r"\bzig (build|test|cc)\b"), "zig"),
    (re.compile(r"\bphp\b"), "php_lint"),
    (re.compile(r"\bstylelint\b"), "stylelint"),
    (re.compile(r"\bmix (compile|test)\b|\belixir\b"), "elixir"),
    (re.compile(r"\bxcodebuild\b"), "xcodebuild"),
    (re.compile(r"\bpython3?\b"), "python_traceback"),
]


def match_command_format(cmd: str) -> str | None:
    for pat, fmt in _COMMAND_PATTERNS:
        if pat.search(cmd):
            return fmt
    return None


def format_catalog() -> list[tuple[str, str, str]]:
    """(name, category, description) for every registered format, the
    `blq formats` listing (reference duck_hunt_formats() TVF surface,
    commands/management.py:1033-1113). The description is the first
    line of the parser's docstring (a rule row's `doc`; empty when
    undocumented). A rule row states its category in its first rule;
    for a hand-written parser it is recovered from its own
    `_event(tool, category, ...)` calls so the catalog can never drift
    from parser behavior."""
    import inspect
    from collections import Counter

    out = []
    for name, fn in FORMATS.items():
        row = _ROW_BY_KEY.get(name)
        if row is not None:
            cat = row.rules[0].category
        else:
            try:
                src = inspect.getsource(fn)
            except (OSError, TypeError):
                src = ""
            cats = re.findall(r'_event\(\s*"[^"]+",\s*"([^"]+)"', src) or re.findall(
                r'_event\(\s*\w+,\s*"([^"]+)"', src
            )
            cat = Counter(cats).most_common(1)[0][0] if cats else "other"
        doc = (fn.__doc__ or "").strip().splitlines()
        out.append((name, cat, doc[0] if doc else ""))
    return sorted(out, key=lambda t: (t[1], t[0]))


def diagnose(content: str) -> list[tuple[str, int, float]]:
    """Score every format on the content: (format, n_events, confidence)
    sorted best-first (reference duck_hunt_diagnose_parse,
    serve.py:1368-1383). Confidence = located-event fraction + volume."""
    lines = content.splitlines()
    results = []
    for fmt, fn in FORMATS.items():
        if fmt == "generic":
            continue
        events = list(fn(lines))
        if not events:
            continue
        located = sum(1 for e in events if e.get("ref_file"))
        # specificity bonus: a format that also captured codes/rules/test
        # names understood the log better than one that only pattern-matched
        # file:line (disambiguates e.g. mypy output, which gcc's grammar
        # also superficially matches)
        specific = sum(1 for e in events if e.get("code") or e.get("rule") or e.get("test_name"))
        confidence = (located + 1) / (len(events) + 1) + 0.5 * specific / len(events)
        results.append((fmt, len(events), round(confidence, 4)))
    results.sort(key=lambda r: (r[1] * r[2], r[1]), reverse=True)
    return results


def detect_format(content: str) -> str:
    ranked = diagnose(content)
    return ranked[0][0] if ranked else "generic"


def parse_content(content: str, fmt: str = "auto") -> list[dict]:
    """Parse one log document. fmt='auto' -> detect then parse; empty
    result falls back down the chain to 'generic' (reference multi-format
    fallback, core.py:2037-2102)."""
    lines = content.splitlines()
    if fmt == "auto":
        fmt = detect_format(content)
    events = list(FORMATS[fmt](lines))
    if not events and fmt != "generic":
        events = list(parse_generic(lines))
        fmt = "generic"
    for ev in events:
        ev["format_used"] = fmt
    return events


# --- batch 5 formats ---------------------------------------------------------

_MOCHA_HEAD_RE = re.compile(r"^\s*\d+\) (?P<test>.+?):?$")
_MOCHA_AT_RE = re.compile(
    r"^\s+at .*?\((?P<file>[^:)]+):(?P<line>\d+):(?P<col>\d+)\)"
)
_MOCHA_ERR_RE = re.compile(r"^\s+(?P<code>\w*(?:Error|AssertionError)):\s*(?P<msg>.*)$")


def parse_mocha(lines: list[str]) -> Iterator[dict]:
    """mocha: `1) suite test:` + error message + first `at (file:l:c)`."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _MOCHA_HEAD_RE.match(ln)
        if m and not ln.strip().startswith(("at ", "#")):
            if pending:
                yield pending
            pending = _event(
                "mocha", "test", "error", m["test"], i,
                test_name=m["test"], event_type="test_result",
            )
            continue
        if pending is None:
            continue
        em = _MOCHA_ERR_RE.match(ln)
        if em:
            pending["message"] = (em["msg"] or em["code"]).strip()
            pending["code"] = em["code"]
            pending["fingerprint"] = fingerprint_of("mocha", em["code"], pending["message"])
            continue
        am = _MOCHA_AT_RE.match(ln)
        if am and pending["ref_file"] is None:
            pending.update(
                ref_file=am["file"], ref_line=int(am["line"]),
                ref_column=int(am["col"]), log_line_end=i,
            )
            yield pending
            pending = None
    if pending:
        yield pending


_OCAML_FILE_RE = re.compile(
    r'^File "(?P<file>[^"]+)", line (?P<line>\d+), characters (?P<col>\d+)-\d+:'
)
_OCAML_ERR_RE = re.compile(r"^(?P<sev>Error|Warning)(?: \d+)?: (?P<msg>.*)$")


def parse_ocaml(lines: list[str]) -> Iterator[dict]:
    """ocaml: `File "src/main.ml", line 10, characters 5-8:` + `Error: msg`."""
    loc: tuple[str, int, int, int] | None = None
    for i, ln in enumerate(lines, 1):
        fm = _OCAML_FILE_RE.match(ln)
        if fm:
            loc = (fm["file"], int(fm["line"]), int(fm["col"]), i)
            continue
        em = _OCAML_ERR_RE.match(ln)
        if em and loc:
            yield _event(
                "ocaml", "compile", _norm_severity(em["sev"].lower()), em["msg"],
                loc[3], file=loc[0], line=loc[1], col=loc[2], end_line_no=i,
            )
            loc = None


_GHC_HEAD_RE = re.compile(
    r"^(?P<file>[^\s:]+\.l?hs):(?P<line>\d+):(?P<col>\d+):\s*(?P<sev>error|warning):?"
    r"(?:\s*\[(?P<code>[-\w]+)\])?:?\s*(?P<msg>.*)$"
)


def parse_ghc(lines: list[str]) -> Iterator[dict]:
    """ghc: `src/Main.hs:10:5: error: [GHC-88464]` header, message may be
    on the header line or the following indented lines."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _GHC_HEAD_RE.match(ln)
        if m:
            if pending:
                yield pending
            pending = _event(
                "ghc", "compile", _norm_severity(m["sev"]), m["msg"] or "", i,
                file=m["file"], line=int(m["line"]), col=int(m["col"]),
                code=m["code"],
            )
            continue
        if pending and ln.startswith((" ", "\t")) and ln.strip():
            if not pending["message"]:
                pending["message"] = ln.strip()
                pending["fingerprint"] = fingerprint_of("ghc", pending["code"], ln.strip())
            pending["log_line_end"] = i
            continue
        if pending:
            yield pending
            pending = None
    if pending:
        yield pending


_BANDIT_ISSUE_RE = re.compile(
    r"^>> Issue: \[(?P<code>B\d+):(?P<rule>\w+)\] (?P<msg>.*)$"
)
_BANDIT_SEV_RE = re.compile(r"^\s+Severity: (?P<sev>\w+)\s+Confidence:")
_BANDIT_LOC_RE = re.compile(r"^\s+Location: (?P<file>[^\s:]+):(?P<line>\d+)(?::(?P<col>\d+))?")


def parse_bandit(lines: list[str]) -> Iterator[dict]:
    """bandit: `>> Issue: [B101:assert_used] msg` + Severity + Location."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _BANDIT_ISSUE_RE.match(ln)
        if m:
            pending = _event(
                "bandit", "security", "warning", m["msg"], i,
                code=m["code"], rule=m["rule"],
            )
            continue
        if pending is None:
            continue
        sm = _BANDIT_SEV_RE.match(ln)
        if sm:
            pending["severity"] = "error" if sm["sev"].lower() == "high" else "warning"
            continue
        lm = _BANDIT_LOC_RE.match(ln)
        if lm:
            pending.update(
                ref_file=lm["file"], ref_line=int(lm["line"]),
                ref_column=int(lm["col"]) if lm["col"] else None, log_line_end=i,
            )
            yield pending
            pending = None


_GITLEAKS_KV_RE = re.compile(r"^(?P<key>Finding|Secret|RuleID|File|Line|Commit):\s*(?P<val>.*)$")


def parse_gitleaks(lines: list[str]) -> Iterator[dict]:
    """gitleaks: key-value finding blocks (Finding/File/Line/RuleID)."""
    cur: dict = {}
    start = 0
    for i, ln in enumerate(lines, 1):
        m = _GITLEAKS_KV_RE.match(ln)
        if not m:
            continue
        if m["key"] == "Finding":
            if "RuleID" in cur:
                yield _gitleaks_event(cur, start)
            cur, start = {"Finding": m["val"]}, i
        else:
            cur[m["key"]] = m["val"]
            if m["key"] == "RuleID" and "Finding" in cur:
                yield _gitleaks_event(cur, start, end=i)
                cur = {}
    if "RuleID" in cur and "Finding" in cur:
        yield _gitleaks_event(cur, start)


def _gitleaks_event(cur: dict, start: int, end: int | None = None) -> dict:
    line = cur.get("Line")
    return _event(
        "gitleaks", "security", "error",
        f"secret detected: {cur.get('RuleID', 'unknown rule')}", start,
        file=cur.get("File"), line=int(line) if line and line.isdigit() else None,
        rule=cur.get("RuleID"), end_line_no=end or start,
    )


_TFLINT_HEAD_RE = re.compile(
    r"^(?P<sev>Error|Warning|Notice): (?P<msg>.*?)\s*\((?P<rule>[\w-]+)\)$"
)


def parse_tflint(lines: list[str]) -> Iterator[dict]:
    """tflint: `Warning: msg (rule_name)` + `  on main.tf line 10:`."""
    for i, ln in enumerate(lines, 1):
        m = _TFLINT_HEAD_RE.match(ln)
        if not m:
            continue
        file = line_no = None
        end = i
        for j in range(i, min(i + 4, len(lines))):
            lm = _TF_ON_RE.match(lines[j])
            if lm:
                file, line_no, end = lm["file"], int(lm["line"]), j + 1
                break
        yield _event(
            "tflint", "lint",
            "error" if m["sev"] == "Error" else "warning",
            m["msg"], i, file=file, line=line_no, rule=m["rule"], end_line_no=end,
        )


_DENO_HEAD_RE = re.compile(
    r"^error: (?P<code>TS\d+) \[ERROR\]: (?P<msg>.*)$"
)
_DENO_AT_RE = re.compile(r"^\s+at (?:file://)?(?P<file>[^\s:]+):(?P<line>\d+):(?P<col>\d+)$")


def parse_deno(lines: list[str]) -> Iterator[dict]:
    """deno check: `error: TS2304 [ERROR]: msg` + `    at file:///p:10:5`."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _DENO_HEAD_RE.match(ln)
        if m:
            if pending:
                yield pending
            pending = _event(
                "deno", "typecheck", "error", m["msg"], i, code=m["code"]
            )
            continue
        if pending:
            am = _DENO_AT_RE.match(ln)
            if am:
                pending.update(
                    ref_file=am["file"], ref_line=int(am["line"]),
                    ref_column=int(am["col"]), log_line_end=i,
                )
                yield pending
                pending = None
    if pending:
        yield pending


_CHECKOV_CHECK_RE = re.compile(r"^Check: (?P<code>CKV\w*_[\w]+_\d+): \"(?P<msg>[^\"]*)\"$")
_CHECKOV_RESULT_RE = re.compile(r"^\s+(?P<res>FAILED|PASSED) for resource: (?P<resource>.*)$")
_CHECKOV_FILE_RE = re.compile(r"^\s+File: (?P<file>[^\s:]+):(?P<line>\d+)(?:-(?P<end>\d+))?")


def parse_checkov(lines: list[str]) -> Iterator[dict]:
    """checkov: Check/FAILED-for-resource/File blocks."""
    code = msg = None
    failed = False
    resource = None
    start = 0
    for i, ln in enumerate(lines, 1):
        cm = _CHECKOV_CHECK_RE.match(ln)
        if cm:
            code, msg, failed, start = cm["code"], cm["msg"], False, i
            continue
        rm = _CHECKOV_RESULT_RE.match(ln)
        if rm and code:
            failed = rm["res"] == "FAILED"
            resource = rm["resource"]
            continue
        fm = _CHECKOV_FILE_RE.match(ln)
        if fm and code and failed:
            yield _event(
                "checkov", "security", "error",
                f"{msg} ({resource})", start,
                file=fm["file"].lstrip("/") or fm["file"], line=int(fm["line"]),
                code=code, end_line_no=i,
            )
            code = None


_LATEX_ERR_RE = re.compile(r"^! (?P<msg>.*)$")
_LATEX_LINE_RE = re.compile(r"^l\.(?P<line>\d+)")
_LATEX_FILE_RE = re.compile(r"\(([^\s()]+\.tex)\b")


def parse_latex(lines: list[str]) -> Iterator[dict]:
    """latex: `! Undefined control sequence.` + `l.10 \\foo`; the current
    file is tracked from the most recent `(path.tex` open-paren."""
    current_file: str | None = None
    pending: tuple[str, int] | None = None
    for i, ln in enumerate(lines, 1):
        fm = _LATEX_FILE_RE.search(ln)
        if fm:
            current_file = fm.group(1)
        em = _LATEX_ERR_RE.match(ln)
        if em:
            pending = (em["msg"], i)
            continue
        if pending:
            lm = _LATEX_LINE_RE.match(ln)
            if lm:
                msg, start = pending
                yield _event(
                    "latex", "compile", "error", msg, start,
                    file=current_file, line=int(lm["line"]), end_line_no=i,
                )
                pending = None


FORMATS.update(
    {
        "mocha": parse_mocha,
        "phpstan": _ROW_PARSE["phpstan"],
        "psalm": _ROW_PARSE["psalm"],
        "dart_analyze": _ROW_PARSE["dart_analyze"],
        "ocaml": parse_ocaml,
        "ghc": parse_ghc,
        "verilator": _ROW_PARSE["verilator"],
        "bandit": parse_bandit,
        "gitleaks": parse_gitleaks,
        "tflint": parse_tflint,
        "solhint": _ROW_PARSE["solhint"],
        "deno": parse_deno,
        "checkov": parse_checkov,
        "ctest": _ROW_PARSE["ctest"],
        "sphinx": _ROW_PARSE["sphinx"],
        "latex": parse_latex,
        "spotbugs": _ROW_PARSE["spotbugs"],
        "pmd": _ROW_PARSE["pmd"],
    }
)

_COMMAND_PATTERNS.extend(
    [
        (re.compile(r"\bmocha\b"), "mocha"),
        (re.compile(r"\bphpstan\b"), "phpstan"),
        (re.compile(r"\bpsalm\b"), "psalm"),
        (re.compile(r"\bdart analyze\b|\bflutter analyze\b"), "dart_analyze"),
        (re.compile(r"\bocaml(?:find|c|opt)?\b|\bdune (build|test)\b"), "ocaml"),
        (re.compile(r"\bghc\b|\bstack (build|test)\b|\bcabal (build|test)\b"), "ghc"),
        (re.compile(r"\bverilator\b"), "verilator"),
        (re.compile(r"\bbandit\b"), "bandit"),
        (re.compile(r"\bgitleaks\b"), "gitleaks"),
        (re.compile(r"\btflint\b"), "tflint"),
        (re.compile(r"\bsolhint\b"), "solhint"),
        (re.compile(r"\bdeno (check|lint|test)\b"), "deno"),
        (re.compile(r"\bcheckov\b"), "checkov"),
        (re.compile(r"\bctest\b"), "ctest"),
        (re.compile(r"\bsphinx-build\b"), "sphinx"),
        (re.compile(r"\b(pdf|lua|xe)?latex\b"), "latex"),
        (re.compile(r"\bspotbugs\b"), "spotbugs"),
        (re.compile(r"\bpmd\b"), "pmd"),
    ]
)


# --- batch 6 formats ---------------------------------------------------------


_NODE_ERR_RE = re.compile(
    r"^(?P<code>[A-Z][\w]*Error|AssertionError)(?:\s*\[[\w_]+\])?:\s*(?P<msg>.*)$"
)
_NODE_AT_RE = re.compile(
    r"^\s+at .*?\(?(?P<file>[^\s():]+\.[cm]?js):(?P<line>\d+):(?P<col>\d+)\)?$"
)


def parse_node_traceback(lines: list[str]) -> Iterator[dict]:
    """node runtime: `TypeError: msg` + first userland `at file.js:10:5`
    frame (node:internal frames are skipped by the file pattern)."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _NODE_ERR_RE.match(ln)
        if m:
            if pending:
                yield pending
            pending = _event(
                "node", "runtime", "error", m["msg"] or m["code"], i, code=m["code"]
            )
            continue
        if pending:
            am = _NODE_AT_RE.match(ln)
            if am and "node:internal" not in am["file"]:
                pending.update(
                    ref_file=am["file"], ref_line=int(am["line"]),
                    ref_column=int(am["col"]), log_line_end=i,
                )
                yield pending
                pending = None
    if pending:
        yield pending


_PERL_RE = re.compile(
    r"^(?P<msg>.+?) at (?P<file>[^\s]+\.p[lm]) line (?P<line>\d+)(?:, near \"(?P<near>[^\"]*)\")?\.?$"
)


def parse_perl(lines: list[str]) -> Iterator[dict]:
    """perl: `syntax error at script.pl line 10, near "..."`."""
    for i, ln in enumerate(lines, 1):
        m = _PERL_RE.match(ln)
        if m:
            sev = "warning" if m["msg"].lower().startswith(("use of uninitialized", "name ")) else "error"
            yield _event(
                "perl", "runtime", sev, m["msg"], i,
                file=m["file"], line=int(m["line"]),
            )


_JULIA_ERR_RE = re.compile(r"^ERROR:(?: LoadError:)* (?P<code>\w+Error|\w+Exception)?:?\s*(?P<msg>.*)$")
_JULIA_AT_RE = re.compile(r"^\s*@ \S+ (?P<file>[~\w./-]+\.jl):(?P<line>\d+)$")


def parse_julia(lines: list[str]) -> Iterator[dict]:
    """julia: `ERROR: LoadError: UndefVarError: foo` + `@ Main src/main.jl:10`.
    A bare `ERROR: msg` with neither an error class nor a stacktrace
    location is left for the generic format (too ambiguous to claim)."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _JULIA_ERR_RE.match(ln)
        if m:
            if pending and pending["code"]:
                yield pending
            pending = _event(
                "julia", "runtime", "error",
                m["msg"] or (m["code"] or "error"), i, code=m["code"],
            )
            continue
        if pending:
            am = _JULIA_AT_RE.match(ln)
            if am:
                pending.update(
                    ref_file=am["file"], ref_line=int(am["line"]), log_line_end=i
                )
                yield pending
                pending = None
    if pending and pending["code"]:
        yield pending


_CLOJURE_RE = re.compile(
    r"^(?P<kind>Syntax error|Execution error)(?: \((?P<code>[\w.]+)\))? "
    r"(?:compiling(?: [\w./]+)? )?at \((?P<file>[^\s:]+):(?P<line>\d+)(?::(?P<col>\d+))?\)\.?$"
)


def parse_clojure(lines: list[str]) -> Iterator[dict]:
    """clojure: `Syntax error compiling at (src/core.clj:10:5).` — the
    message is on the following line."""
    for i, ln in enumerate(lines, 1):
        m = _CLOJURE_RE.match(ln)
        if m:
            msg = lines[i].strip() if i < len(lines) else m["kind"]
            yield _event(
                "clojure", "compile", "error", msg or m["kind"], i,
                file=m["file"], line=int(m["line"]),
                col=int(m["col"]) if m["col"] else None,
                code=m["code"], end_line_no=i + 1 if msg else i,
            )


FORMATS.update(
    {
        "go_build": _ROW_PARSE["go_build"],
        "node_traceback": parse_node_traceback,
        "ruby_traceback": _ROW_PARSE["ruby_traceback"],
        "perl": parse_perl,
        "julia": parse_julia,
        "clojure": parse_clojure,
        "prettier": _ROW_PARSE["prettier"],
        "dmd": _ROW_PARSE["dmd"],
        "nim": _ROW_PARSE["nim"],
        "pascal": _ROW_PARSE["pascal"],
        "erlang": _ROW_PARSE["erlang"],
        "playwright": _ROW_PARSE["playwright"],
    }
)

_COMMAND_PATTERNS.extend(
    [
        (re.compile(r"\bgo (build|vet|install)\b"), "go_build"),
        (re.compile(r"\bnode\b|\bts-node\b"), "node_traceback"),
        (re.compile(r"\bruby\b|\brake\b"), "ruby_traceback"),
        (re.compile(r"\bperl\b"), "perl"),
        (re.compile(r"\bjulia\b"), "julia"),
        (re.compile(r"\blein\b|\bclj\b|\bclojure\b"), "clojure"),
        (re.compile(r"\bprettier\b"), "prettier"),
        (re.compile(r"\b(dmd|ldc2?)\b"), "dmd"),
        (re.compile(r"\bnim\b"), "nim"),
        (re.compile(r"\bfpc\b"), "pascal"),
        (re.compile(r"\berlc\b|\brebar3\b"), "erlang"),
        (re.compile(r"\bplaywright\b"), "playwright"),
    ]
)


# --- batch 7 formats ---------------------------------------------------------

_GFORTRAN_LOC_RE = re.compile(r"^(?P<file>[^\s:]+\.[fF](?:90|95|03|08)?):(?P<line>\d+):(?P<col>\d+):\s*$")
_GFORTRAN_MSG_RE = re.compile(r"^(?P<sev>Error|Warning): (?P<msg>.*)$")


def parse_gfortran(lines: list[str]) -> Iterator[dict]:
    """gfortran: bare `main.f90:10:5:` location line, code echo, then
    `Error: Symbol 'x' at (1) has no IMPLICIT type`."""
    loc: tuple[str, int, int, int] | None = None
    for i, ln in enumerate(lines, 1):
        lm = _GFORTRAN_LOC_RE.match(ln)
        if lm:
            loc = (lm["file"], int(lm["line"]), int(lm["col"]), i)
            continue
        mm = _GFORTRAN_MSG_RE.match(ln)
        if mm and loc:
            yield _event(
                "gfortran", "compile", _norm_severity(mm["sev"].lower()), mm["msg"],
                loc[3], file=loc[0], line=loc[1], col=loc[2], end_line_no=i,
            )
            loc = None


_SCALATEST_FAIL_RE = re.compile(r"^[-\s]*(?P<test>.+?) \*\*\* FAILED \*\*\*\s*$")
_SCALATEST_LOC_RE = re.compile(r"^\s+(?P<msg>.*?)\s*\((?P<file>[^\s:()]+\.scala):(?P<line>\d+)\)\s*$")


def parse_scalatest(lines: list[str]) -> Iterator[dict]:
    """scalatest: `- should add *** FAILED ***` + `  expected... (Spec.scala:10)`."""
    current: tuple[str, int] | None = None
    for i, ln in enumerate(lines, 1):
        fm = _SCALATEST_FAIL_RE.match(ln)
        if fm:
            current = (fm["test"].lstrip("- "), i)
            continue
        if current:
            lm = _SCALATEST_LOC_RE.match(ln)
            if lm:
                yield _event(
                    "scalatest", "test", "error", lm["msg"], current[1],
                    file=lm["file"], line=int(lm["line"]),
                    test_name=current[0], event_type="test_result", end_line_no=i,
                )
                current = None


_TAP_RE = re.compile(r"^not ok (?P<num>\d+)(?:\s*-\s*(?P<test>.*?))?(?:\s*#.*)?$")


def parse_tap(lines: list[str]) -> Iterator[dict]:
    """Test Anything Protocol: `not ok 2 - test name`."""
    for i, ln in enumerate(lines, 1):
        m = _TAP_RE.match(ln)
        if m:
            name = (m["test"] or f"test {m['num']}").strip()
            yield _event(
                "tap", "test", "error", f"not ok: {name}", i,
                test_name=name, event_type="test_result",
            )


_GTEST_FAIL_RE = re.compile(r"^\[\s*FAILED\s*\] (?P<test>[\w./]+)(?: \(\d+ ms\))?$")
_GTEST_LOC_RE = re.compile(r"^(?P<file>[^\s:]+\.(?:cc|cpp|h|hpp)):(?P<line>\d+): Failure$")


def parse_googletest(lines: list[str]) -> Iterator[dict]:
    """googletest: `file.cc:10: Failure` detail blocks + the summary
    `[  FAILED  ] Suite.Test` lines (which carry the test name)."""
    seen_fail_names = set()
    pending_loc: tuple[str, int, int] | None = None
    for i, ln in enumerate(lines, 1):
        lm = _GTEST_LOC_RE.match(ln)
        if lm:
            pending_loc = (lm["file"], int(lm["line"]), i)
            continue
        if pending_loc and ln.strip() and not ln.startswith("["):
            file, line, start = pending_loc
            yield _event(
                "googletest", "test", "error", ln.strip(), start,
                file=file, line=line, end_line_no=i,
            )
            pending_loc = None
            continue
        fm = _GTEST_FAIL_RE.match(ln)
        if fm and fm["test"] not in seen_fail_names:
            seen_fail_names.add(fm["test"])
            yield _event(
                "googletest", "test", "error", f"FAILED: {fm['test']}", i,
                test_name=fm["test"], event_type="test_result",
            )


_CATCH2_LOC_RE = re.compile(r"^(?P<file>[^\s:]+\.(?:cpp|cc|hpp|h)):(?P<line>\d+): FAILED:\s*$")
_CATCH2_EXPR_RE = re.compile(r"^\s+(?:REQUIRE|CHECK)(?:_\w+)?\( (?P<expr>.*) \)\s*$")


def parse_catch2(lines: list[str]) -> Iterator[dict]:
    """catch2: `file.cpp:10: FAILED:` + `  REQUIRE( x == 4 )`."""
    pending: tuple[str, int, int] | None = None
    for i, ln in enumerate(lines, 1):
        lm = _CATCH2_LOC_RE.match(ln)
        if lm:
            pending = (lm["file"], int(lm["line"]), i)
            continue
        if pending:
            em = _CATCH2_EXPR_RE.match(ln)
            file, line, start = pending
            msg = em["expr"] if em else ln.strip()
            if msg:
                yield _event(
                    "catch2", "test", "error", msg, start,
                    file=file, line=line, end_line_no=i,
                )
                pending = None


_XMLLINT_RE = re.compile(
    r"^(?P<file>[^\s:]+\.(?:xml|xsd|xsl|svg|html)):(?P<line>\d+): "
    r"(?P<kind>parser error|validity error|error|warning)\s*:\s*(?P<msg>.*)$"
)


def parse_xmllint(lines: list[str]) -> Iterator[dict]:
    """xmllint: `file.xml:10: parser error : Opening and ending tag mismatch`."""
    for i, ln in enumerate(lines, 1):
        m = _XMLLINT_RE.match(ln)
        if m:
            yield _event(
                "xmllint", "lint",
                "warning" if m["kind"] == "warning" else "error",
                m["msg"], i, file=m["file"], line=int(m["line"]),
                code=m["kind"].replace(" ", "_"),
            )


_GO_PANIC_RE = re.compile(r"^panic: (?P<msg>.*?)(?:\s*\[recovered\])?$")
_GO_FRAME_RE = re.compile(r"^\t(?P<file>[^\s:]+\.go):(?P<line>\d+)(?: \+0x[0-9a-f]+)?$")


def parse_go_panic(lines: list[str]) -> Iterator[dict]:
    """go runtime panic: `panic: msg` + goroutine trace; the first
    non-runtime frame (`\\tmain.go:10 +0x1d`) supplies the location."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _GO_PANIC_RE.match(ln)
        if m:
            if pending:
                yield pending
            pending = _event("go", "runtime", "error", m["msg"], i, code="panic")
            continue
        if pending:
            fm = _GO_FRAME_RE.match(ln)
            if fm and "/runtime/" not in fm["file"]:
                pending.update(
                    ref_file=fm["file"], ref_line=int(fm["line"]), log_line_end=i
                )
                yield pending
                pending = None
    if pending:
        yield pending


FORMATS.update(
    {
        "staticcheck": _ROW_PARSE["staticcheck"],
        "gfortran": parse_gfortran,
        "scalatest": parse_scalatest,
        "tap": parse_tap,
        "googletest": parse_googletest,
        "catch2": parse_catch2,
        "python_unittest": _ROW_PARSE["python_unittest"],
        "swiftlint": _ROW_PARSE["swiftlint"],
        "detekt": _ROW_PARSE["detekt"],
        "scalastyle": _ROW_PARSE["scalastyle"],
        "puppet": _ROW_PARSE["puppet"],
        "xmllint": parse_xmllint,
        "go_panic": parse_go_panic,
    }
)

_COMMAND_PATTERNS.extend(
    [
        (re.compile(r"\bstaticcheck\b"), "staticcheck"),
        (re.compile(r"\bgfortran\b|\bflang\b"), "gfortran"),
        (re.compile(r"\bscalatest\b"), "scalatest"),
        (re.compile(r"\bprove\b|\btap\b"), "tap"),
        (re.compile(r"\bgtest\b|\bgoogletest\b"), "googletest"),
        (re.compile(r"\bcatch2?\b"), "catch2"),
        (re.compile(r"\bunittest\b"), "python_unittest"),
        (re.compile(r"\bswiftlint\b"), "swiftlint"),
        (re.compile(r"\bdetekt\b"), "detekt"),
        (re.compile(r"\bscalastyle\b"), "scalastyle"),
        (re.compile(r"\bpuppet\b"), "puppet"),
        (re.compile(r"\bxmllint\b"), "xmllint"),
    ]
)


# --- batch 8 formats ---------------------------------------------------------


_R_ERR_RE = re.compile(r"^Error(?: in (?P<call>[^:]+))?\s*:\s*(?P<msg>.*)$")
_R_HALT_RE = re.compile(r"^Execution halted\s*$")


def parse_r_script(lines: list[str]) -> Iterator[dict]:
    """Rscript: `Error in foo(x) : object 'y' not found` (+ optional
    continuation line) terminated by `Execution halted`."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _R_ERR_RE.match(ln)
        if m:
            if pending:
                yield pending
            msg = m["msg"] or ""
            pending = _event(
                "r", "runtime", "error", msg, i, code=m["call"],
            )
            continue
        if pending:
            if _R_HALT_RE.match(ln):
                pending["log_line_end"] = i
                yield pending
                pending = None
            elif ln.startswith("  ") and ln.strip() and not pending["message"]:
                pending["message"] = ln.strip()
                pending["fingerprint"] = fingerprint_of("r", pending["code"], ln.strip())
    if pending:
        yield pending


_HLINT_RE = re.compile(
    r"^(?P<file>[^\s:]+\.l?hs):(?P<line>\d+):(?P<col>\d+)(?:-\d+)?: "
    r"(?P<sev>Error|Warning|Suggestion): (?P<msg>.*)$"
)


def parse_hlint(lines: list[str]) -> Iterator[dict]:
    """hlint: `src/Main.hs:10:5: Warning: Eta reduce` (+ Found/Perhaps
    detail lines extend the span)."""
    pending: dict | None = None
    for i, ln in enumerate(lines, 1):
        m = _HLINT_RE.match(ln)
        if m:
            if pending:
                yield pending
            sev = "error" if m["sev"] == "Error" else "warning"
            pending = _event(
                "hlint", "lint", sev, m["msg"], i,
                file=m["file"], line=int(m["line"]), col=int(m["col"]),
            )
            continue
        if pending and ln.strip() and (ln.startswith(" ") or ln.split(":")[0] in ("Found", "Perhaps", "Why not")):
            pending["log_line_end"] = i
            continue
        if pending:
            yield pending
            pending = None
    if pending:
        yield pending


_BIOME_RE = re.compile(
    r"^(?P<file>[^\s:]+):(?P<line>\d+):(?P<col>\d+) (?P<rule>lint/[\w/]+|format|organizeImports)\s+"
    r"(?:━+\s*)?(?P<msg>.*)$"
)


def parse_biome(lines: list[str]) -> Iterator[dict]:
    """biome: `src/a.ts:10:5 lint/suspicious/noExplicitAny  msg`."""
    for i, ln in enumerate(lines, 1):
        m = _BIOME_RE.match(ln)
        if m:
            yield _event(
                "biome", "lint", "warning", m["msg"].strip() or m["rule"], i,
                file=m["file"], line=int(m["line"]), col=int(m["col"]),
                rule=m["rule"],
            )


_CYPRESS_FAIL_RE = re.compile(r"^\s*\d+\) (?P<suite>.+?) > (?P<test>.+?):?\s*$")
_CYPRESS_SPEC_RE = re.compile(r"^\s*Running:\s+(?P<file>[^\s]+)")


def parse_cypress(lines: list[str]) -> Iterator[dict]:
    """cypress: `Running: spec.cy.ts` headers + `1) suite > test` failures."""
    current_spec: str | None = None
    for i, ln in enumerate(lines, 1):
        sm = _CYPRESS_SPEC_RE.match(ln)
        if sm:
            current_spec = sm["file"]
            continue
        m = _CYPRESS_FAIL_RE.match(ln)
        if m:
            yield _event(
                "cypress", "test", "error",
                f"{m['suite']} > {m['test']}", i,
                file=current_spec, test_name=m["test"],
                event_type="test_result",
            )


_NUNIT_FAIL_RE = re.compile(r"^\s*\d+\) (?:Failed|Error) : (?P<test>[\w.]+)$")


def parse_nunit(lines: list[str]) -> Iterator[dict]:
    """nunit-console: `1) Failed : Namespace.Class.Test` + message line."""
    for i, ln in enumerate(lines, 1):
        m = _NUNIT_FAIL_RE.match(ln)
        if m:
            msg = lines[i].strip() if i < len(lines) else ""
            yield _event(
                "nunit", "test", "error", msg or f"Failed: {m['test']}", i,
                test_name=m["test"], event_type="test_result",
                end_line_no=i + 1 if msg else i,
            )


FORMATS.update(
    {
        "meson": _ROW_PARSE["meson"],
        "ninja": _ROW_PARSE["ninja"],
        "r_script": parse_r_script,
        "psscriptanalyzer": _ROW_PARSE["psscriptanalyzer"],
        "ansible_lint": _ROW_PARSE["ansible_lint"],
        "commitlint": _ROW_PARSE["commitlint"],
        "hlint": parse_hlint,
        "biome": parse_biome,
        "cypress": parse_cypress,
        "nunit": parse_nunit,
    }
)

_COMMAND_PATTERNS.extend(
    [
        (re.compile(r"\bmeson\b"), "meson"),
        (re.compile(r"\bninja\b"), "ninja"),
        (re.compile(r"\bRscript\b|\bR CMD\b"), "r_script"),
        (re.compile(r"\bInvoke-ScriptAnalyzer\b|\bpsscriptanalyzer\b"), "psscriptanalyzer"),
        (re.compile(r"\bansible-lint\b"), "ansible_lint"),
        (re.compile(r"\bcommitlint\b"), "commitlint"),
        (re.compile(r"\bhlint\b"), "hlint"),
        (re.compile(r"\bbiome\b"), "biome"),
        (re.compile(r"\bcypress\b"), "cypress"),
        (re.compile(r"\bnunit3?-console\b"), "nunit"),
    ]
)


# --- distributed parse (S3): mapInPandas over (source_id, content) rows ------

PARSED_EVENT_DDL = (
    "source_id string, event_index int, event_type string, severity string,"
    " ref_file string, ref_line int, ref_column int, message string,"
    " code string, rule string, tool_name string, category string,"
    " test_name string, fingerprint string, log_line_start int,"
    " log_line_end int, format_used string"
)


def parse_df(
    df,
    fmt: str = "auto",
    id_col: str = "source_id",
    content_col: str = "content",
    use_jvm: bool = True,
):
    """Distributed parse: each row is one log document; yields event rows.

    Every format takes the JVM fast path (logparse_fast: pure
    regexp_extract column pipelines, zero Python execution), including
    fmt='auto': per-document detection runs candidate-prefiltered
    format pipelines and replicates diagnose's ranking JVM-side
    (fast_parse_auto_df). The Arrow-batched mapInPandas path remains
    for streaming inputs, use_jvm=False, and any Python-registered
    format outside the fast catalog — per-document parallelism either
    way (runs are independent units; a 100 TB corpus is millions of
    documents)."""
    # streaming inputs keep the Python path: the fast path's fallback
    # count + event_index are per-document windows, which Structured
    # Streaming rejects (only time windows aggregate on streams)
    if use_jvm and not df.isStreaming:
        from blq_cli_spark.sources import logparse_fast

        if fmt == "auto":
            # detection iterates the FULL Python rule table, so the JVM
            # twin is only equivalent while the catalogs coincide (a
            # Python-side format registered at runtime falls back)
            if set(FORMATS) - {"generic"} <= set(logparse_fast.FAST_FORMATS):
                return logparse_fast.fast_parse_auto_df(df, id_col, content_col)
        elif fmt in logparse_fast.FAST_FORMATS:
            return logparse_fast.fast_parse_df(df, fmt, id_col, content_col)
    import pandas as pd

    cols = PARSED_EVENT_DDL  # closure-safe copies
    the_fmt = fmt

    def _parse_batches(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        field_names = [c.split()[0] for c in cols.split(",")]
        for pdf in batches:
            out: list[dict] = []
            for sid, content in zip(pdf[id_col], pdf[content_col]):
                for idx, ev in enumerate(parse_content(content or "", the_fmt), start=1):
                    ev = {"source_id": sid, "event_index": idx, **ev}
                    out.append({k: ev.get(k) for k in field_names})
            yield pd.DataFrame(out, columns=field_names) if out else pd.DataFrame(
                columns=field_names
            )

    return df.mapInPandas(_parse_batches, schema=PARSED_EVENT_DDL)


def events_df(spark, events: list[dict]):
    """Parsed-event dicts -> DataFrame with the explicit parser schema.

    Explicit DDL, never inference: a column that is all-None in one
    particular log (code/rule/test_name) would otherwise fail or drift
    between inputs."""
    field_names = [c.split()[0].strip() for c in PARSED_EVENT_DDL.split(",")]
    rows = [tuple(ev.get(k) for k in field_names) for ev in events]
    return spark.createDataFrame(rows, PARSED_EVENT_DDL)
