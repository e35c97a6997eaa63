"""Rule-table log parser: per-format extraction, auto-detection, fallback
chain, fingerprint stability, and the distributed mapInPandas path.
Sample logs mirror the reference's fixture style (tests/test_query_api.py:
19-30 there) without copying them."""

from __future__ import annotations

import pytest

from blq_cli_spark.sources import logparse as lp

GCC_LOG = """\
src/main.c:10:5: error: undefined reference to 'foo'
src/main.c:22:1: warning: unused variable 'x'
make: *** [all] Error 1
"""

PYTEST_LOG = """\
============================= test session starts ==============================
tests/test_app.py::test_ok PASSED
FAILED tests/test_app.py::test_math - AssertionError: 1 != 2
ERROR tests/test_io.py::test_read - FileNotFoundError: missing.txt
E       AssertionError: 1 != 2
========================= 2 failed, 1 passed in 0.12s ==========================
"""

MYPY_LOG = """\
src/app.py:12: error: Incompatible types in assignment [assignment]
src/app.py:30:8: note: Revealed type is "builtins.int"
src/lib.py:4: warning: unused 'type: ignore' comment
"""

ESLINT_LOG = """\
app.js
  7:1   error  'x' is defined but never used  no-unused-vars
  9:12  warning  Missing semicolon  semi
"""

TRACEBACK_LOG = """\
Traceback (most recent call last):
  File "main.py", line 4, in <module>
    run()
  File "lib.py", line 9, in run
    raise ValueError("bad input")
ValueError: bad input
"""

RUST_LOG = """\
error[E0308]: mismatched types
 --> src/main.rs:5:9
warning: unused import: `std::io`
 --> src/lib.rs:1:5
"""

GO_LOG = """\
--- FAIL: TestAdd
    math_test.go:12: got 3, want 4
ok      example.com/pkg 0.002s
"""

MAVEN_LOG = """\
[ERROR] /src/Main.java:[10,5] cannot find symbol
[WARNING] Using platform encoding
"""


def test_gcc_extraction():
    evs = lp.parse_content(GCC_LOG, "gcc")
    assert len(evs) == 2
    e0 = evs[0]
    assert (e0["ref_file"], e0["ref_line"], e0["ref_column"]) == ("src/main.c", 10, 5)
    assert e0["severity"] == "error" and "undefined reference" in e0["message"]


def test_pytest_extraction():
    evs = lp.parse_content(PYTEST_LOG, "pytest")
    fails = [e for e in evs if e["event_type"] == "test_result"]
    assert {e["test_name"] for e in fails} == {"test_math", "test_read"}
    assert all(e["severity"] == "error" for e in fails)


def test_mypy_code_extraction():
    evs = lp.parse_content(MYPY_LOG, "mypy")
    assert evs[0]["code"] == "assignment"
    assert evs[1]["severity"] == "note" and evs[1]["ref_column"] == 8
    assert len(evs) == 3


def test_eslint_stateful_file_binding():
    evs = lp.parse_content(ESLINT_LOG, "eslint")
    assert len(evs) == 2
    assert all(e["ref_file"] == "app.js" for e in evs)
    assert evs[0]["rule"] == "no-unused-vars"


def test_traceback_final_frame_and_span():
    evs = lp.parse_content(TRACEBACK_LOG, "python_traceback")
    assert len(evs) == 1
    e = evs[0]
    assert (e["ref_file"], e["ref_line"], e["code"]) == ("lib.py", 9, "ValueError")
    assert e["log_line_start"] == 1 and e["log_line_end"] == 6


def test_rust_location_attachment():
    evs = lp.parse_content(RUST_LOG, "rustc")
    assert evs[0]["code"] == "E0308" and evs[0]["ref_file"] == "src/main.rs"
    assert evs[1]["severity"] == "warning" and evs[1]["ref_line"] == 1


def test_go_test_binding():
    evs = lp.parse_content(GO_LOG, "go_test")
    assert evs[0]["test_name"] == "TestAdd"
    assert evs[1]["ref_file"] == "math_test.go" and evs[1]["ref_line"] == 12


def test_maven():
    evs = lp.parse_content(MAVEN_LOG, "maven")
    assert evs[0]["ref_file"] == "/src/Main.java" and evs[0]["ref_line"] == 10
    assert evs[1]["severity"] == "warning"


@pytest.mark.parametrize(
    "log,expected",
    [
        (GCC_LOG, "gcc"),
        (MYPY_LOG, "mypy"),
        (ESLINT_LOG, "eslint"),
        (TRACEBACK_LOG, "python_traceback"),
        (RUST_LOG, "rustc"),
        (GO_LOG, "go_test"),
        (MAVEN_LOG, "maven"),
    ],
)
def test_auto_detection(log, expected):
    assert lp.detect_format(log) == expected


def test_auto_parse_marks_format():
    evs = lp.parse_content(GCC_LOG, "auto")
    assert evs and all(e["format_used"] == "gcc" for e in evs)


def test_fallback_to_generic():
    evs = lp.parse_content("something went wrong\nERROR: disk full\nall fine\n", "auto")
    assert evs[0]["format_used"] == "generic"
    assert evs[0]["severity"] == "error" and "disk full" in evs[0]["message"]


def test_empty_and_unparseable():
    assert lp.parse_content("", "auto") == []
    assert lp.parse_content("nothing to see here\n", "auto") == []


def test_fingerprint_stability_and_normalization():
    a = lp.fingerprint_of("gcc", None, "undefined reference to foo at 0xdeadbeef line 42")
    b = lp.fingerprint_of("gcc", None, "undefined reference to foo at 0xCAFE line 7")
    c = lp.fingerprint_of("gcc", None, "some other message")
    assert a == b != c


def test_format_catalog_pinned():
    """`blq formats` output: rule rows state category and description,
    hand-written parsers have theirs recovered from source. Pinned in
    full so neither path can drift."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "data", "format_registry.json")
    with open(path) as fh:
        want = json.load(fh)["catalog"]
    assert [list(t) for t in lp.format_catalog()] == want


def test_command_format_matching():
    assert lp.match_command_format("gcc -O2 main.c") == "gcc"
    assert lp.match_command_format("python -m pytest tests/") == "pytest"
    assert lp.match_command_format("cargo build --release") == "rustc"
    assert lp.match_command_format("unknown-tool xyz") is None


def test_distributed_parse_df(spark):
    docs = spark.createDataFrame(
        [("r1", GCC_LOG), ("r2", PYTEST_LOG), ("r3", ""), ("r4", MYPY_LOG)],
        "source_id string, content string",
    )
    out = lp.parse_df(docs, fmt="auto")
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source_id"], []).append(r)
    assert len(by_src["r1"]) == 2 and by_src["r1"][0]["tool_name"] == "gcc"
    assert "r3" not in by_src
    assert {r["format_used"] for r in by_src["r4"]} == {"mypy"}
    # event_index restarts per document
    assert [r["event_index"] for r in sorted(by_src["r1"], key=lambda r: r["event_index"])] == [1, 2]


TSC_LOG = """src/app.ts(10,5): error TS2304: Cannot find name 'foo'.
src/util.ts(3,1): warning TS6133: 'x' is declared but never used.
"""

JEST_LOG = """PASS src/ok.test.js
FAIL src/math.test.js
  ✕ adds numbers (4 ms)
  ✕ multiplies numbers
"""

SHELLCHECK_LOG = """In deploy.sh line 3:
cp $SRC $DST
   ^--^ SC2086 (info): Double quote to prevent globbing and word splitting.

In deploy.sh line 7:
eval $CMD
^-- SC2294 (warning): eval negates the benefit of arrays.
"""

RUFF_LOG = """src/a.py:1:1: F401 [*] `os` imported but unused
src/b.py:12:80: E501 Line too long (92 > 79)
"""


def test_parse_tsc():
    evs = lp.parse_content(TSC_LOG, "tsc")
    assert len(evs) == 2
    assert evs[0]["severity"] == "error" and evs[0]["code"] == "TS2304"
    assert (evs[0]["ref_file"], evs[0]["ref_line"], evs[0]["ref_column"]) == ("src/app.ts", 10, 5)
    assert evs[1]["severity"] == "warning"


def test_parse_jest():
    evs = lp.parse_content(JEST_LOG, "jest")
    # one FAIL header + two failing tests, nothing for PASS
    assert len(evs) == 3
    assert evs[0]["ref_file"] == "src/math.test.js"
    assert evs[1]["test_name"] == "adds numbers"
    assert all(e["severity"] == "error" for e in evs)


def test_parse_shellcheck():
    evs = lp.parse_content(SHELLCHECK_LOG, "shellcheck")
    assert len(evs) == 2
    assert evs[0]["code"] == "SC2086" and evs[0]["ref_line"] == 3
    assert evs[1]["code"] == "SC2294" and evs[1]["severity"] == "warning"
    # span covers header line through caret line
    assert evs[0]["log_line_start"] < evs[0]["log_line_end"]


def test_parse_ruff():
    evs = lp.parse_content(RUFF_LOG, "ruff")
    assert len(evs) == 2
    assert evs[0]["rule"] == "F401" and evs[0]["ref_column"] == 1
    assert evs[1]["ref_line"] == 12


def test_autodetect_new_formats():
    assert lp.detect_format(TSC_LOG) == "tsc"
    assert lp.detect_format(RUFF_LOG) == "ruff"
    assert lp.match_command_format("npx tsc --noEmit") == "tsc"
    assert lp.match_command_format("shellcheck deploy.sh") == "shellcheck"


MSBUILD_LOG = """Program.cs(12,34): error CS0103: The name 'foo' does not exist [App.csproj]
Util.cs(3,5): warning CS0168: The variable 'x' is declared but never used
"""

CMAKE_LOG = """CMake Error at CMakeLists.txt:14 (message):
  Required library FOO not found

CMake Warning (dev) at src/CMakeLists.txt:7 (add_library):
  Policy CMP0115 is not set.
"""

GRADLE_LOG = """> Task :app:compileJava FAILED

FAILURE: Build failed with an exception.

* What went wrong:
Execution failed for task ':app:compileJava'.
"""


def test_parse_msbuild():
    evs = lp.parse_content(MSBUILD_LOG, "msbuild")
    assert len(evs) == 2
    assert evs[0]["code"] == "CS0103" and evs[0]["ref_column"] == 34
    assert "[App.csproj]" not in evs[0]["message"]
    assert evs[1]["severity"] == "warning"


def test_parse_cmake_multiline_body():
    evs = lp.parse_content(CMAKE_LOG, "cmake")
    assert len(evs) == 2
    assert evs[0]["severity"] == "error"
    assert "FOO not found" in evs[0]["message"]
    assert (evs[0]["ref_file"], evs[0]["ref_line"]) == ("CMakeLists.txt", 14)
    assert evs[0]["log_line_end"] > evs[0]["log_line_start"]
    assert evs[1]["severity"] == "warning" and evs[1]["code"] == "add_library"


def test_parse_gradle():
    evs = lp.parse_content(GRADLE_LOG, "gradle")
    assert len(evs) == 2
    assert evs[0]["test_name"] == ":app:compileJava"
    assert "Execution failed" in evs[1]["message"]


def test_msbuild_not_confused_with_tsc():
    assert lp.detect_format(MSBUILD_LOG) == "msbuild"
    assert lp.detect_format(TSC_LOG) == "tsc"
    assert lp.match_command_format("dotnet build -c Release") == "msbuild"
    assert lp.match_command_format("./gradlew assemble") == "gradle"


JAVA_LOG = """Exception in thread "main" java.lang.NullPointerException: oops
	at com.example.App.run(App.java:42)
	at com.example.App.main(App.java:10)
Caused by: java.lang.IllegalStateException: root cause
	at com.example.Util.check(Util.java:7)
"""

NPM_LOG = """npm WARN deprecated left-pad@1.0.0: use String.padStart
npm ERR! code ELIFECYCLE
npm ERR! errno 1
npm ERR! myapp@1.0.0 build: `webpack`
"""

DOCKER_LOG = """Step 3/7 : RUN make
 ---> Running in abc123
#7 1.23 ERROR: process "/bin/sh -c make" did not complete successfully
failed to solve: executor failed running [/bin/sh -c make]: exit code 2
"""

TF_LOG = """Error: Reference to undeclared resource

  on main.tf line 12, in resource "aws_instance" "web":

Warning: Deprecated attribute
"""


def test_parse_java_stacktrace():
    evs = lp.parse_content(JAVA_LOG, "java_stacktrace")
    assert len(evs) == 2
    assert evs[0]["code"] == "NullPointerException" and evs[0]["message"] == "oops"
    assert (evs[0]["ref_file"], evs[0]["ref_line"]) == ("App.java", 42)
    assert evs[0]["log_line_end"] == 3  # spans header + 2 frames
    assert evs[1]["code"] == "IllegalStateException"
    assert evs[1]["ref_file"] == "Util.java"


def test_parse_npm_collapses_err_block():
    evs = lp.parse_content(NPM_LOG, "npm")
    assert len(evs) == 2  # one WARN + one collapsed ERR block
    assert evs[0]["severity"] == "warning"
    assert evs[1]["severity"] == "error" and evs[1]["code"] == "ELIFECYCLE"


def test_parse_docker_build():
    evs = lp.parse_content(DOCKER_LOG, "docker_build")
    assert len(evs) == 2
    assert "did not complete successfully" in evs[0]["message"]
    assert "executor failed" in evs[1]["message"]  # prefix stripped


def test_parse_terraform():
    evs = lp.parse_content(TF_LOG, "terraform")
    assert len(evs) == 2
    assert (evs[0]["ref_file"], evs[0]["ref_line"]) == ("main.tf", 12)
    assert evs[1]["severity"] == "warning" and evs[1]["ref_file"] is None


def test_batch2_command_hints():
    assert lp.match_command_format("npm run build") == "npm"
    assert lp.match_command_format("docker build -t app .") == "docker_build"
    assert lp.match_command_format("terraform plan") == "terraform"
    assert lp.match_command_format("java -jar app.jar") == "java_stacktrace"
    assert lp.match_command_format("javac Main.java") == "javac"


GOLANGCI_LOG = """main.go:10:2: ineffectual assignment to err (ineffassign)
pkg/util.go:3: exported function Foo should have comment (golint)
"""

ANSIBLE_LOG = """TASK [deploy app] *******
fatal: [web01]: FAILED! => {"msg": "connection refused"}
TASK [restart nginx] *******
failed: [web02] (item=conf): {"msg": "template error"}
"""


def test_parse_golangci_lint():
    evs = lp.parse_content(GOLANGCI_LOG, "golangci_lint")
    assert len(evs) == 2
    assert evs[0]["rule"] == "ineffassign" and evs[0]["ref_column"] == 2
    assert evs[1]["rule"] == "golint" and evs[1]["ref_column"] is None


def test_parse_ansible_task_attribution():
    evs = lp.parse_content(ANSIBLE_LOG, "ansible")
    assert len(evs) == 2
    assert evs[0]["test_name"] == "deploy app" and evs[0]["code"] == "web01"
    assert evs[1]["test_name"] == "restart nginx" and evs[1]["code"] == "web02"
    assert lp.match_command_format("ansible-playbook site.yml") == "ansible"
    assert lp.match_command_format("golangci-lint run") == "golangci_lint"


# --- batch 3: duck_hunt-breadth formats --------------------------------------

CLANG_TIDY_LOG = """src/app.cpp:42:7: warning: use auto when initializing with new [modernize-use-auto]
src/app.cpp:50:3: error: no member named 'size' in 'Foo' [clang-diagnostic-error]
"""

JAVAC_LOG = """Main.java:10: error: ';' expected
        int x = 1
                 ^
  symbol:   variable x
  location: class Main
Util.java:3: warning: [deprecation] old() in Legacy has been deprecated
2 errors
"""

KOTLINC_LOG = """e: /app/src/Main.kt: (12, 8): unresolved reference: foo
w: /app/src/Util.kt: (3, 1): parameter 'x' is never used
"""

PYLINT_LOG = """app/models.py:15:0: C0301: Line too long (105/100) (line-too-long)
app/views.py:8:4: E1101: Instance of 'Foo' has no 'bar' member (no-member)
"""

FLAKE8_LOG = """src/a.py:10:80: E501 line too long (88 > 79)
src/b.py:1:1: F401 'os' imported but unused
"""

BLACK_ISORT_LOG = """would reformat src/app.py
error: cannot format src/bad.py: Cannot parse: 10:5: def f(:
ERROR: /app/src/views.py Imports are incorrectly sorted and/or formatted.
"""

CARGO_TEST_LOG = """test tests::it_works ... FAILED
test tests::other ... ok
thread 'tests::it_works' panicked at src/lib.rs:10:5:
assertion `left == right` failed
"""

PHPUNIT_LOG = """1) AppTest::testSum
Failed asserting that 3 matches expected 4.

/app/tests/AppTest.php:25

FAILURES!
"""

RUBY_TEST_LOG = """Failures:
rspec ./spec/models/user_spec.rb:14 # User validates email
  1) Failure:
CartTest#test_total [test/cart_test.rb:22]:
Expected 10 to equal 12.
"""

JUNIT_XML_LOG = """<testsuite tests="2" failures="1">
  <testcase name="testAdd" classname="CalcTest">
    <failure message="expected 4 but was 3">stack</failure>
  </testcase>
  <testcase name="testSub" classname="CalcTest"/>
</testsuite>
"""

SWIFTC_LOG = """Sources/App/main.swift:7:9: error: use of unresolved identifier 'foo'
Sources/App/util.swift:2:5: warning: variable 'x' was never used
"""

NVCC_LOG = """kernel.cu(15): error: identifier "threadIdz" is undefined
kernel.cu(20): warning: variable "tmp" was declared but never referenced
"""

MAKE_LD_LOG = """main.o: in function `main': undefined reference to `helper'
/usr/bin/ld: cannot find -lfoo
collect2: error: ld returned 1 exit status
make: *** [Makefile:12: app] Error 1
"""

YAMLLINT_LOG = """deploy.yaml
  3:4       error    wrong indentation: expected 2 but found 3  (indentation)
  10:81     warning  line too long (85 > 80 characters)  (line-length)
"""

MDLINT_LOG = """README.md:12:81 MD013/line-length Line length [Expected: 80; Actual: 95]
docs/guide.md:1 MD041/first-line-heading First line in a file should be a top-level heading
"""

SBT_LOG = """[error] /app/src/main/scala/Foo.scala:10:5: not found: value bar
[warn] /app/src/main/scala/Util.scala:3: Unused import
"""

DOTNET_TEST_LOG = """  Failed CalcTests.TestAdd [5 ms]
  Error Message:
   Assert.Equal() Failure: expected 4, actual 3
  Stack Trace:
     at CalcTests.TestAdd() in /app/CalcTests.cs:line 42
"""

PIP_LOG = """ERROR: Cannot install pkg-a and pkg-b because these package versions have conflicting dependencies.
    pkg-a 1.0.0 depends on requests>=2.30
    pkg-b 2.0.0 depends on requests<2.0
ERROR: ResolutionImpossible: for help visit the docs
"""

UV_LOG = """  × No solution found when resolving dependencies:
  ╰─▶ Because pkg-a depends on requests>=2.30 and pkg-b depends on requests<2.0, no version works.
"""

VALGRIND_LOG = """==1234== Invalid read of size 4
==1234==    at 0x4005E4: main (main.c:10)
==1234==    by 0x4A2B3C: __libc_start_main (libc.c:300)
==1234== 16 bytes in 1 blocks are definitely lost in loss record 1 of 1
==1234==    at 0x483B7F3: malloc (vg_replace_malloc.c:309)
==1234==    by 0x4005F1: make_buf (util.c:22)
==1234== ERROR SUMMARY: 2 errors from 2 contexts
"""


def test_parse_clang_tidy():
    evs = lp.parse_content(CLANG_TIDY_LOG, "clang_tidy")
    assert len(evs) == 2
    assert evs[0]["rule"] == "modernize-use-auto" and evs[0]["severity"] == "warning"
    assert evs[1]["severity"] == "error" and evs[1]["ref_line"] == 50


def test_parse_javac():
    evs = lp.parse_content(JAVAC_LOG, "javac")
    assert len(evs) == 2
    assert evs[0]["ref_file"] == "Main.java" and evs[0]["ref_line"] == 10
    assert evs[0]["log_line_end"] >= 4  # symbol/location lines extend span
    assert evs[1]["severity"] == "warning"


def test_parse_kotlinc():
    evs = lp.parse_content(KOTLINC_LOG, "kotlinc")
    assert len(evs) == 2
    assert evs[0]["severity"] == "error" and evs[0]["ref_column"] == 8
    assert evs[1]["severity"] == "warning"


def test_parse_pylint():
    evs = lp.parse_content(PYLINT_LOG, "pylint")
    assert len(evs) == 2
    assert evs[0]["code"] == "C0301" and evs[0]["rule"] == "line-too-long"
    assert evs[0]["severity"] == "warning" and evs[1]["severity"] == "error"


def test_parse_flake8():
    evs = lp.parse_content(FLAKE8_LOG, "flake8")
    assert len(evs) == 2
    assert evs[0]["code"] == "E501" and evs[0]["severity"] == "warning"
    assert evs[1]["code"] == "F401" and evs[1]["severity"] == "error"


def test_parse_black_isort():
    evs = lp.parse_content(BLACK_ISORT_LOG, "black_isort")
    assert len(evs) == 3
    assert evs[0]["tool_name"] == "black" and evs[0]["ref_file"] == "src/app.py"
    assert evs[1]["severity"] == "error" and "Cannot parse" in evs[1]["message"]
    assert evs[2]["tool_name"] == "isort" and evs[2]["ref_file"] == "/app/src/views.py"


def test_parse_cargo_test():
    evs = lp.parse_content(CARGO_TEST_LOG, "cargo_test")
    assert len(evs) == 2
    assert evs[0]["test_name"] == "tests::it_works"
    assert evs[1]["ref_file"] == "src/lib.rs" and evs[1]["ref_line"] == 10
    assert "assertion" in evs[1]["message"]


def test_parse_phpunit():
    evs = lp.parse_content(PHPUNIT_LOG, "phpunit")
    assert len(evs) == 1
    ev = evs[0]
    assert ev["test_name"] == "AppTest::testSum"
    assert ev["ref_file"] == "/app/tests/AppTest.php" and ev["ref_line"] == 25
    assert "Failed asserting" in ev["message"]


def test_parse_ruby_test():
    evs = lp.parse_content(RUBY_TEST_LOG, "ruby_test")
    assert len(evs) == 2
    assert evs[0]["tool_name"] == "rspec" and evs[0]["ref_line"] == 14
    assert evs[1]["tool_name"] == "minitest"
    assert evs[1]["ref_file"] == "test/cart_test.rb" and "Expected 10" in evs[1]["message"]


def test_parse_junit_xml():
    evs = lp.parse_content(JUNIT_XML_LOG, "junit_xml")
    assert len(evs) == 1
    assert evs[0]["test_name"] == "CalcTest.testAdd"
    assert "expected 4" in evs[0]["message"]


def test_parse_swiftc_and_nvcc():
    evs = lp.parse_content(SWIFTC_LOG, "swiftc")
    assert len(evs) == 2 and evs[0]["tool_name"] == "swiftc"
    evs = lp.parse_content(NVCC_LOG, "nvcc")
    assert len(evs) == 2
    assert evs[0]["ref_file"] == "kernel.cu" and evs[0]["ref_line"] == 15


def test_parse_make_ld():
    evs = lp.parse_content(MAKE_LD_LOG, "make_ld")
    msgs = " | ".join(e["message"] for e in evs)
    assert "undefined reference to 'helper'" in msgs
    assert "cannot find -lfoo" in msgs
    assert "ld returned 1 exit status" in msgs
    make_evs = [e for e in evs if e["tool_name"] == "make"]
    assert make_evs and make_evs[0]["ref_file"] == "Makefile"
    assert make_evs[0]["ref_line"] == 12


def test_parse_yamllint():
    evs = lp.parse_content(YAMLLINT_LOG, "yamllint")
    assert len(evs) == 2
    assert evs[0]["ref_file"] == "deploy.yaml" and evs[0]["rule"] == "indentation"
    assert evs[1]["severity"] == "warning" and evs[1]["ref_column"] == 81


def test_parse_markdownlint():
    evs = lp.parse_content(MDLINT_LOG, "markdownlint")
    assert len(evs) == 2
    assert evs[0]["code"] == "MD013" and evs[0]["rule"] == "line-length"
    assert evs[1]["ref_column"] is None and evs[1]["code"] == "MD041"


def test_parse_sbt():
    evs = lp.parse_content(SBT_LOG, "sbt")
    assert len(evs) == 2
    assert evs[0]["severity"] == "error" and evs[0]["ref_column"] == 5
    assert evs[1]["severity"] == "warning" and evs[1]["ref_column"] is None


def test_parse_dotnet_test():
    evs = lp.parse_content(DOTNET_TEST_LOG, "dotnet_test")
    assert len(evs) == 1
    ev = evs[0]
    assert ev["test_name"] == "CalcTests.TestAdd"
    assert "Assert.Equal" in ev["message"]
    assert ev["ref_file"] == "/app/CalcTests.cs" and ev["ref_line"] == 42


def test_parse_pip_and_uv_resolver():
    evs = lp.parse_content(PIP_LOG, "pip_resolver")
    assert len(evs) == 4
    assert evs[0]["severity"] == "error" and "Cannot install" in evs[0]["message"]
    assert evs[1]["code"] == "pkg-a" and evs[1]["severity"] == "warning"
    evs = lp.parse_content(UV_LOG, "pip_resolver")
    assert len(evs) == 1 and evs[0]["tool_name"] == "uv"


def test_parse_valgrind():
    evs = lp.parse_content(VALGRIND_LOG, "valgrind")
    assert len(evs) == 2
    assert evs[0]["ref_file"] == "main.c" and evs[0]["ref_line"] == 10
    assert "definitely lost" in evs[1]["message"]
    assert evs[1]["ref_file"] == "vg_replace_malloc.c"


def test_batch3_command_hints():
    cases = {
        "clang-tidy src/app.cpp --": "clang_tidy",
        "kotlinc src -include-runtime": "kotlinc",
        "pylint app/": "pylint",
        "flake8 src": "flake8",
        "black --check .": "black_isort",
        "cargo test --workspace": "cargo_test",
        "phpunit --testdox": "phpunit",
        "bundle exec rspec": "ruby_test",
        "swiftc main.swift": "swiftc",
        "nvcc -o kern kernel.cu": "nvcc",
        "yamllint .": "yamllint",
        "markdownlint docs/": "markdownlint",
        "sbt compile": "sbt",
        "dotnet test MySln.sln": "dotnet_test",
        "pip install -r requirements.txt": "pip_resolver",
        "uv sync --frozen": "pip_resolver",
        "valgrind ./app": "valgrind",
        "clang -O2 main.c": "gcc",
    }
    for cmd, fmt in cases.items():
        assert lp.match_command_format(cmd) == fmt, cmd


def test_batch3_autodetect():
    # distinctive shapes must win auto-detection over generic
    assert lp.detect_format(CLANG_TIDY_LOG) == "clang_tidy"
    assert lp.detect_format(KOTLINC_LOG) == "kotlinc"
    assert lp.detect_format(PYLINT_LOG) == "pylint"
    assert lp.detect_format(VALGRIND_LOG) == "valgrind"
    assert lp.detect_format(DOTNET_TEST_LOG) == "dotnet_test"
    assert lp.parse_content(MDLINT_LOG, "auto")[0]["format_used"] == "markdownlint"


VITEST_LOG = """ ❯ src/math.test.ts (3 tests | 1 failed)
   × adds numbers
 ✓ src/ok.test.ts (2 tests)
 FAIL  src/other.test.ts > multiplies numbers
AssertionError: expected 3 to be 4
"""


def test_parse_vitest():
    evs = lp.parse_content(VITEST_LOG, "vitest")
    assert len(evs) == 2
    assert evs[0]["ref_file"] == "src/math.test.ts" and evs[0]["test_name"] == "adds numbers"
    assert evs[1]["test_name"] == "multiplies numbers"
    assert lp.match_command_format("vitest run") == "vitest"


# --- batch 4 ------------------------------------------------------------------

BATCH4_LOGS = {
    "cppcheck": (
        "src/a.c:10:5: error: Null pointer dereference: ptr [nullPointer]\n"
        "src/b.c:3: style: Unused variable: x [unusedVariable]\n",
        2,
        {"ref_file": "src/a.c", "ref_line": 10, "code": "nullPointer", "severity": "error"},
    ),
    "rubocop": (
        "app/models/user.rb:10:5: C: Style/FrozenStringLiteral: Missing magic comment.\n"
        "app/api.rb:2:1: E: Lint/Syntax: unexpected token\n",
        2,
        {"rule": "Style/FrozenStringLiteral", "severity": "warning"},
    ),
    "checkstyle": (
        "[ERROR] /src/Main.java:10:5: Missing a Javadoc comment. [JavadocMethod]\n"
        "[WARN] /src/Util.java:3: Line is longer than 100 characters. [LineLength]\n",
        2,
        {"ref_file": "/src/Main.java", "rule": "JavadocMethod", "severity": "error"},
    ),
    "ktlint": (
        "src/main/App.kt:10:5: Missing newline before \")\" (standard:wrapping)\n",
        1,
        {"rule": "standard:wrapping", "ref_column": 5},
    ),
    "hadolint": (
        "Dockerfile:3 DL3008 warning: Pin versions in apt get install\n"
        "Dockerfile:7 DL3025 error: Use arguments JSON notation\n",
        2,
        {"code": "DL3008", "severity": "warning"},
    ),
    "sqlfluff": (
        "== [models/orders.sql] FAIL\n"
        "L:  10 | P:   5 | L010 | Keywords must be consistently upper case.\n"
        "L:  12 | P:   1 | L003 | Indentation not consistent with previous lines.\n",
        2,
        {"ref_file": "models/orders.sql", "code": "L010", "ref_line": 10},
    ),
    "bazel": (
        "ERROR: /work/app/BUILD:10:1: no such target '//lib:util'\n",
        1,
        {"ref_file": "/work/app/BUILD", "severity": "error"},
    ),
    "luacheck": (
        "    src/init.lua:10:5: (W211) unused variable 'x'\n"
        "    src/run.lua:2:1: (E011) expected expression near '='\n",
        2,
        {"code": "W211", "severity": "warning"},
    ),
    "actionlint": (
        ".github/workflows/ci.yml:10:9: property \"need\" is not defined [expression]\n",
        1,
        {"rule": "expression", "severity": "error"},
    ),
    "protoc": (
        "api/v1/user.proto:10:3: \"Address\" is not defined.\n",
        1,
        {"ref_file": "api/v1/user.proto", "severity": "error"},
    ),
    "zig": (
        "src/main.zig:10:5: error: use of undeclared identifier 'foo'\n"
        "src/main.zig:10:5: note: did you mean 'for'?\n",
        2,
        {"severity": "error", "ref_column": 5},
    ),
    "php_lint": (
        "PHP Parse error: syntax error, unexpected '}' in /app/index.php on line 10\n"
        "PHP Warning: Undefined variable $x in /app/util.php on line 3\n",
        2,
        {"ref_file": "/app/index.php", "severity": "error"},
    ),
    "stylelint": (
        "src/styles/app.css\n"
        "  10:5  ✖  Unexpected unknown property \"colr\"  property-no-unknown\n",
        1,
        {"ref_file": "src/styles/app.css", "rule": "property-no-unknown"},
    ),
    "xcodebuild": (
        "Test Case '-[AppTests testLogin]' failed (0.005 seconds).\n"
        "** BUILD FAILED **\n",
        2,
        {"event_type": "test_result"},
    ),
}


@pytest.mark.parametrize("fmt", sorted(BATCH4_LOGS))
def test_batch4_formats(fmt):
    log, n, expect = BATCH4_LOGS[fmt]
    evs = lp.parse_content(log, fmt)
    assert len(evs) == n, evs
    for k, v in expect.items():
        assert evs[0][k] == v, (k, evs[0])


ELIXIR_LOG = """** (CompileError) lib/app.ex:10: undefined function foo/0
warning: variable "x" is unused
  lib/util.ex:3: MyApp.Util.run/1
"""


def test_parse_elixir():
    evs = lp.parse_content(ELIXIR_LOG, "elixir")
    assert len(evs) == 2
    assert evs[0]["severity"] == "error" and evs[0]["code"] == "CompileError"
    assert evs[1]["severity"] == "warning" and evs[1]["ref_file"] == "lib/util.ex"


def test_batch4_command_hints():
    cases = {
        "cppcheck --enable=all src/": "cppcheck",
        "bundle exec rubocop": "rubocop",
        "ktlint src/**/*.kt": "ktlint",
        "hadolint Dockerfile": "hadolint",
        "sqlfluff lint models/": "sqlfluff",
        "bazel build //...": "bazel",
        "actionlint": "actionlint",
        "protoc --go_out=. api.proto": "protoc",
        "zig build test": "zig",
        "php -l index.php": "php_lint",
        "stylelint 'src/**/*.css'": "stylelint",
        "mix test": "elixir",
        "xcodebuild test -scheme App": "xcodebuild",
    }
    for cmd, fmt in cases.items():
        assert lp.match_command_format(cmd) == fmt, cmd


def test_batch4_autodetect_distinctive():
    for fmt in ("cppcheck", "rubocop", "checkstyle", "hadolint", "sqlfluff", "luacheck"):
        log = BATCH4_LOGS[fmt][0]
        assert lp.detect_format(log) == fmt, fmt


# --- batch 5 ------------------------------------------------------------------

MOCHA_LOG = """  1) Math suite adds numbers:

     AssertionError: expected 3 to equal 4
      at Context.<anonymous> (test/math.js:10:15)
      at processImmediate (node:internal/timers:476:21)
"""

OCAML_LOG = """File "src/main.ml", line 10, characters 5-8:
Error: Unbound value foo
File "src/util.ml", line 3, characters 0-4:
Warning 26: unused variable x.
"""

GHC_LOG = """src/Main.hs:10:5: error: [GHC-88464]
    Variable not in scope: foo
  |
src/Util.hs:3:1: warning: [-Wunused-imports]
    The import of 'Data.List' is redundant
"""

BANDIT_LOG = """>> Issue: [B101:assert_used] Use of assert detected.
   Severity: Low   Confidence: High
   Location: src/app.py:10:0
--------------------------------------------------
>> Issue: [B602:subprocess_popen_with_shell_equals_true] shell=True identified.
   Severity: High   Confidence: High
   Location: src/run.py:22:4
"""

GITLEAKS_LOG = """Finding: aws_secret="AKIA..."
Secret: AKIA1234
File: config/settings.py
Line: 12
RuleID: aws-access-key
"""

TFLINT_LOG = """Warning: instance_type is not a valid value (aws_instance_invalid_type)
  on main.tf line 10:
"""

DENO_LOG = """error: TS2304 [ERROR]: Cannot find name 'foo'.
    at file:///src/app.ts:10:5
"""

CHECKOV_LOG = """Check: CKV_AWS_20: "S3 Bucket has an ACL defined"
\tFAILED for resource: aws_s3_bucket.data
\tFile: /main.tf:10-15
Check: CKV_AWS_21: "Versioning enabled"
\tPASSED for resource: aws_s3_bucket.data
\tFile: /main.tf:10-15
"""

LATEX_LOG = """(./paper.tex
! Undefined control sequence.
l.10 \\foo
"""

BATCH5_SIMPLE = {
    "phpstan": (
        "src/Foo.php:10:Call to an undefined method Foo::bar()\n",
        1,
        {"ref_file": "src/Foo.php", "ref_line": 10, "severity": "error"},
    ),
    "psalm": (
        "ERROR: UndefinedVariable - src/a.php:10:5 - Cannot find referenced variable $x\n",
        1,
        {"rule": "UndefinedVariable", "ref_column": 5},
    ),
    "dart_analyze": (
        "  error • Undefined name 'foo' • lib/main.dart:10:5 • undefined_identifier\n",
        1,
        {"rule": "undefined_identifier", "severity": "error"},
    ),
    "verilator": (
        "%Error: top.v:10:5: Cannot find file\n%Warning-WIDTH: alu.v:22: Operator ASSIGN expects 8 bits\n",
        2,
        {"ref_file": "top.v", "severity": "error"},
    ),
    "solhint": (
        "contracts/Token.sol:10:5: Error: Avoid using tx.origin [avoid-tx-origin]\n",
        1,
        {"rule": "avoid-tx-origin", "severity": "error"},
    ),
    "ctest": (
        "    1/3 Test #1: test_math ........................***Failed    0.05 sec\n"
        "    2/3 Test #2: test_io ..........................   Passed    0.01 sec\n",
        1,
        {"test_name": "test_math", "event_type": "test_result"},
    ),
    "sphinx": (
        "/docs/index.rst:10: WARNING: undefined label: intro\n",
        1,
        {"ref_file": "/docs/index.rst", "severity": "warning"},
    ),
    "spotbugs": (
        "M D NP: Possible null pointer dereference of x in Foo.bar()  At Foo.java:[line 10]\n",
        1,
        {"rule": "NP", "ref_line": 10},
    ),
    "pmd": (
        "/src/Foo.java:10: UnusedLocalVariable: Avoid unused local variables such as 'x'.\n",
        1,
        {"rule": "UnusedLocalVariable"},
    ),
}


@pytest.mark.parametrize("fmt", sorted(BATCH5_SIMPLE))
def test_batch5_simple_formats(fmt):
    log, n, expect = BATCH5_SIMPLE[fmt]
    evs = lp.parse_content(log, fmt)
    assert len(evs) == n, evs
    for k, v in expect.items():
        assert evs[0][k] == v, (k, evs[0])


def test_parse_mocha():
    evs = lp.parse_content(MOCHA_LOG, "mocha")
    assert len(evs) == 1
    ev = evs[0]
    assert ev["test_name"].startswith("Math suite")
    assert ev["code"] == "AssertionError" and "expected 3" in ev["message"]
    assert (ev["ref_file"], ev["ref_line"], ev["ref_column"]) == ("test/math.js", 10, 15)


def test_parse_ocaml():
    evs = lp.parse_content(OCAML_LOG, "ocaml")
    assert len(evs) == 2
    assert evs[0]["severity"] == "error" and evs[0]["ref_file"] == "src/main.ml"
    assert evs[1]["severity"] == "warning" and evs[1]["ref_line"] == 3


def test_parse_ghc():
    evs = lp.parse_content(GHC_LOG, "ghc")
    assert len(evs) == 2
    assert evs[0]["code"] == "GHC-88464" and "not in scope" in evs[0]["message"]
    assert evs[1]["severity"] == "warning" and evs[1]["code"] == "-Wunused-imports"


def test_parse_bandit():
    evs = lp.parse_content(BANDIT_LOG, "bandit")
    assert len(evs) == 2
    assert evs[0]["code"] == "B101" and evs[0]["severity"] == "warning"
    assert evs[1]["severity"] == "error"  # High severity
    assert evs[1]["ref_file"] == "src/run.py" and evs[1]["ref_line"] == 22


def test_parse_gitleaks():
    evs = lp.parse_content(GITLEAKS_LOG, "gitleaks")
    assert len(evs) == 1
    assert evs[0]["rule"] == "aws-access-key"
    assert evs[0]["ref_file"] == "config/settings.py" and evs[0]["ref_line"] == 12


def test_parse_tflint_deno_checkov_latex():
    evs = lp.parse_content(TFLINT_LOG, "tflint")
    assert len(evs) == 1 and evs[0]["ref_file"] == "main.tf" and evs[0]["rule"] == "aws_instance_invalid_type"
    evs = lp.parse_content(DENO_LOG, "deno")
    assert len(evs) == 1 and evs[0]["code"] == "TS2304" and evs[0]["ref_line"] == 10
    evs = lp.parse_content(CHECKOV_LOG, "checkov")
    assert len(evs) == 1  # only the FAILED check
    assert evs[0]["code"] == "CKV_AWS_20" and "aws_s3_bucket.data" in evs[0]["message"]
    evs = lp.parse_content(LATEX_LOG, "latex")
    assert len(evs) == 1 and evs[0]["ref_file"] == "./paper.tex" and evs[0]["ref_line"] == 10


def test_batch5_command_hints():
    cases = {
        "yarn mocha test/": "mocha",
        "vendor/bin/phpstan analyse": "phpstan",
        "dart analyze": "dart_analyze",
        "dune build @all": "ocaml",
        "stack test": "ghc",
        "verilator --lint-only top.v": "verilator",
        "bandit -r src/": "bandit",
        "gitleaks detect": "gitleaks",
        "tflint --recursive": "tflint",
        "deno check main.ts": "deno",
        "checkov -d .": "checkov",
        "ctest --output-on-failure": "ctest",
        "sphinx-build docs out": "sphinx",
        "pdflatex paper.tex": "latex",
        "spotbugs -textui app.jar": "spotbugs",
        "pmd check -d src": "pmd",
    }
    for cmd, fmt in cases.items():
        assert lp.match_command_format(cmd) == fmt, cmd


def test_batch5_autodetect_distinctive():
    assert lp.detect_format(BANDIT_LOG) == "bandit"
    assert lp.detect_format(OCAML_LOG) == "ocaml"
    assert lp.detect_format(MOCHA_LOG) == "mocha"
    assert lp.detect_format(BATCH5_SIMPLE["psalm"][0]) == "psalm"
    assert lp.detect_format(BATCH5_SIMPLE["dart_analyze"][0]) == "dart_analyze"
    assert lp.detect_format(CHECKOV_LOG) == "checkov"


# --- batch 6 ------------------------------------------------------------------

NODE_LOG = """/app/index.js:10
  throw new Error("kaboom");
TypeError: Cannot read properties of undefined (reading 'x')
    at handle (/app/src/handler.js:10:15)
    at process.processTicksAndRejections (node:internal/process/task_queues:95:5)
"""

JULIA_LOG = """ERROR: LoadError: UndefVarError: `foo` not defined
Stacktrace:
 [1] top-level scope
   @ Main src/main.jl:10
"""

CLOJURE_LOG = """Syntax error compiling at (src/core.clj:10:5).
Unable to resolve symbol: foo in this context
"""

BATCH6_SIMPLE = {
    "go_build": (
        "./main.go:10:5: undefined: foo\npkg/util.go:3:1: imported and not used: \"fmt\"\n",
        2,
        {"ref_file": "./main.go", "ref_line": 10, "severity": "error"},
    ),
    "ruby_traceback": (
        "script.rb:10:in `divide': divided by 0 (ZeroDivisionError)\n"
        "\tfrom script.rb:14:in `<main>'\n",
        1,
        {"code": "ZeroDivisionError", "ref_line": 10},
    ),
    "perl": (
        "syntax error at script.pl line 10, near \"my $x\"\n"
        "Global symbol \"$y\" requires explicit package name at script.pl line 5.\n",
        2,
        {"ref_file": "script.pl", "ref_line": 10, "severity": "error"},
    ),
    "prettier": (
        "[error] src/a.js: SyntaxError: Unexpected token (10:5)\n",
        1,
        {"code": "SyntaxError", "ref_line": 10, "ref_column": 5},
    ),
    "dmd": (
        "src/app.d(10): Error: undefined identifier `foo`\n"
        "src/util.d(3,7): Warning: statement is not reachable\n",
        2,
        {"ref_file": "src/app.d", "severity": "error"},
    ),
    "nim": (
        "src/main.nim(10, 5) Error: undeclared identifier: 'foo'\n"
        "src/main.nim(3, 1) Hint: 'x' is declared but not used [XDeclaredButNotUsed]\n",
        2,
        {"ref_column": 5, "severity": "error"},
    ),
    "pascal": (
        "main.pas(10,5) Error: Identifier not found \"foo\"\n",
        1,
        {"ref_file": "main.pas", "severity": "error"},
    ),
    "erlang": (
        "src/mod.erl:10: function foo/0 undefined\n"
        "src/mod.erl:3: Warning: variable 'X' is unused\n",
        2,
        {"severity": "error", "ref_line": 10},
    ),
    "playwright": (
        "  1) [chromium] › tests/auth.spec.ts:10:5 › login › rejects bad password\n",
        1,
        {"test_name": "login › rejects bad password", "code": "chromium"},
    ),
}


@pytest.mark.parametrize("fmt", sorted(BATCH6_SIMPLE))
def test_batch6_simple_formats(fmt):
    log, n, expect = BATCH6_SIMPLE[fmt]
    evs = lp.parse_content(log, fmt)
    assert len(evs) == n, evs
    for k, v in expect.items():
        assert evs[0][k] == v, (k, evs[0])


def test_parse_node_traceback():
    evs = lp.parse_content(NODE_LOG, "node_traceback")
    assert len(evs) == 1
    ev = evs[0]
    assert ev["code"] == "TypeError"
    # node:internal frames skipped; first userland frame wins
    assert ev["ref_file"] == "/app/src/handler.js" and ev["ref_line"] == 10


def test_parse_julia_and_clojure():
    evs = lp.parse_content(JULIA_LOG, "julia")
    assert len(evs) == 1
    assert evs[0]["code"] == "UndefVarError" and evs[0]["ref_file"] == "src/main.jl"
    evs = lp.parse_content(CLOJURE_LOG, "clojure")
    assert len(evs) == 1
    assert "Unable to resolve symbol" in evs[0]["message"] and evs[0]["ref_line"] == 10


def test_batch6_command_hints():
    cases = {
        "go build ./...": "go_build",
        "go test ./...": "go_test",  # test output, not build errors
        "node server.js": "node_traceback",
        "bundle exec rake": "ruby_traceback",
        "perl script.pl": "perl",
        "julia --project src/main.jl": "julia",
        "lein test": "clojure",
        "prettier --check .": "prettier",
        "ldc2 -O2 app.d": "dmd",
        "nim c src/main.nim": "nim",
        "fpc main.pas": "pascal",
        "rebar3 compile": "erlang",
        "npx playwright test": "playwright",
    }
    for cmd, fmt in cases.items():
        assert lp.match_command_format(cmd) == fmt, cmd


def test_batch6_autodetect_distinctive():
    assert lp.detect_format(BATCH6_SIMPLE["nim"][0]) == "nim"
    assert lp.detect_format(BATCH6_SIMPLE["playwright"][0]) == "playwright"
    assert lp.detect_format(JULIA_LOG) == "julia"
    assert lp.detect_format(BATCH6_SIMPLE["dmd"][0]) == "dmd"


# --- batch 7 ------------------------------------------------------------------

GFORTRAN_LOG = """main.f90:10:5:

   10 |   x = y + 1
      |     1
Error: Symbol 'y' at (1) has no IMPLICIT type
"""

GTEST_LOG = """[ RUN      ] CalcTest.Adds
calc_test.cc:10: Failure
Expected equality of these values: 3 and 4
[  FAILED  ] CalcTest.Adds (0 ms)
[  FAILED  ] CalcTest.Adds
"""

CATCH2_LOG = """-------------------------------------------------------------------------------
adds numbers
-------------------------------------------------------------------------------
test/calc.cpp:10: FAILED:
  REQUIRE( add(1, 2) == 4 )
with expansion:
  3 == 4
"""

GO_PANIC_LOG = """panic: runtime error: index out of range [5] with length 3

goroutine 1 [running]:
main.main()
\t/app/main.go:10 +0x1d
"""

BATCH7_SIMPLE = {
    "scalatest": (
        "- should add numbers *** FAILED ***\n  3 did not equal 4 (CalcSpec.scala:10)\n",
        1,
        {"test_name": "should add numbers", "ref_file": "CalcSpec.scala", "ref_line": 10},
    ),
    "tap": (
        "ok 1 - setup\nnot ok 2 - parses input\nnot ok 3\n",
        2,
        {"test_name": "parses input", "event_type": "test_result"},
    ),
    "python_unittest": (
        "FAIL: test_add (tests.test_calc.CalcTest)\nERROR: test_io (tests.test_io.IOTest)\n",
        2,
        {"test_name": "tests.test_calc.CalcTest.test_add", "severity": "error"},
    ),
    "swiftlint": (
        "Sources/App.swift:10:5: warning: Line Length Violation: 130 chars (line_length)\n",
        1,
        {"rule": "line_length", "severity": "warning"},
    ),
    "detekt": (
        "src/main/App.kt:10:5: This expression contains a magic number. [MagicNumber]\n",
        1,
        {"rule": "MagicNumber", "ref_column": 5},
    ),
    "scalastyle": (
        "error file=/app/src/Foo.scala message=Header does not match expected text line=1\n",
        1,
        {"ref_file": "/app/src/Foo.scala", "severity": "error", "ref_line": 1},
    ),
    "puppet": (
        "Error: Could not parse for environment production: Syntax error at '}' (file: /etc/site.pp, line: 10, column: 5)\n",
        1,
        {"ref_file": "/etc/site.pp", "ref_line": 10, "ref_column": 5},
    ),
    "xmllint": (
        "config.xml:10: parser error : Opening and ending tag mismatch: a line 8 and b\n",
        1,
        {"code": "parser_error", "severity": "error"},
    ),
}


@pytest.mark.parametrize("fmt", sorted(BATCH7_SIMPLE))
def test_batch7_simple_formats(fmt):
    log, n, expect = BATCH7_SIMPLE[fmt]
    evs = lp.parse_content(log, fmt)
    assert len(evs) == n, evs
    for k, v in expect.items():
        assert evs[0][k] == v, (k, evs[0])


def test_parse_gfortran():
    evs = lp.parse_content(GFORTRAN_LOG, "gfortran")
    assert len(evs) == 1
    ev = evs[0]
    assert (ev["ref_file"], ev["ref_line"], ev["ref_column"]) == ("main.f90", 10, 5)
    assert "IMPLICIT type" in ev["message"]


def test_parse_googletest():
    evs = lp.parse_content(GTEST_LOG, "googletest")
    # one located failure detail + one summary (deduped)
    assert len(evs) == 2
    assert evs[0]["ref_file"] == "calc_test.cc" and "Expected equality" in evs[0]["message"]
    assert evs[1]["test_name"] == "CalcTest.Adds"


def test_parse_catch2_and_go_panic():
    evs = lp.parse_content(CATCH2_LOG, "catch2")
    assert len(evs) == 1
    assert evs[0]["message"] == "add(1, 2) == 4" and evs[0]["ref_line"] == 10
    evs = lp.parse_content(GO_PANIC_LOG, "go_panic")
    assert len(evs) == 1
    assert evs[0]["code"] == "panic" and evs[0]["ref_file"] == "/app/main.go"
    assert evs[0]["ref_line"] == 10


def test_batch7_autodetect_distinctive():
    assert lp.detect_format(GFORTRAN_LOG) == "gfortran"
    assert lp.detect_format(GTEST_LOG) == "googletest"
    assert lp.detect_format(GO_PANIC_LOG) == "go_panic"
    assert lp.detect_format(BATCH7_SIMPLE["scalatest"][0]) == "scalatest"
    assert lp.detect_format(BATCH7_SIMPLE["puppet"][0]) == "puppet"
    assert lp.detect_format(BATCH7_SIMPLE["swiftlint"][0]) == "swiftlint"


def test_parse_staticcheck():
    log = "main.go:10:5: this value of err is never used (SA4006)\n"
    evs = lp.parse_content(log, "staticcheck")
    assert len(evs) == 1 and evs[0]["code"] == "SA4006" and evs[0]["ref_column"] == 5
    assert lp.match_command_format("staticcheck ./...") == "staticcheck"
    assert lp.detect_format(log) == "staticcheck"


# --- batch 8 ------------------------------------------------------------------

R_LOG = """Error in library(ggplot2) : there is no package called 'ggplot2'
Execution halted
"""

HLINT_LOG = """src/Main.hs:10:5: Warning: Eta reduce
Found:
  f x = g x
Perhaps:
  f = g
"""

BATCH8_SIMPLE = {
    "meson": (
        "meson.build:10:5: ERROR: Unknown variable \"foo\".\n",
        1,
        {"ref_file": "meson.build", "severity": "error"},
    ),
    "ninja": (
        "FAILED: obj/main.o \nninja: error: loading 'build.ninja': No such file\n",
        2,
        {"test_name": "obj/main.o", "event_type": "task_result"},
    ),
    "psscriptanalyzer": (
        "PSAvoidUsingCmdletAliases Warning deploy.ps1 10 'gci' is an alias of 'Get-ChildItem'.\n",
        1,
        {"rule": "PSAvoidUsingCmdletAliases", "ref_line": 10},
    ),
    "ansible_lint": (
        "playbook.yml:10: name[missing] All tasks should be named\n",
        1,
        {"rule": "name[missing]", "ref_file": "playbook.yml"},
    ),
    "commitlint": (
        "✖   subject may not be empty [subject-empty]\n✖   type may not be empty [type-empty]\n",
        2,
        {"rule": "subject-empty", "severity": "error"},
    ),
    "biome": (
        "src/app.ts:10:5 lint/suspicious/noExplicitAny  Unexpected any. Specify a different type.\n",
        1,
        {"rule": "lint/suspicious/noExplicitAny", "ref_column": 5},
    ),
    "cypress": (
        "  Running:  auth.cy.ts\n  1) login flow > rejects bad password:\n",
        1,
        {"ref_file": "auth.cy.ts", "test_name": "rejects bad password"},
    ),
    "nunit": (
        "  1) Failed : App.Tests.CalcTest.Adds\n     Expected 4 but was 3\n",
        1,
        {"test_name": "App.Tests.CalcTest.Adds"},
    ),
}


@pytest.mark.parametrize("fmt", sorted(BATCH8_SIMPLE))
def test_batch8_simple_formats(fmt):
    log, n, expect = BATCH8_SIMPLE[fmt]
    evs = lp.parse_content(log, fmt)
    assert len(evs) == n, evs
    for k, v in expect.items():
        assert evs[0][k] == v, (k, evs[0])


def test_parse_r_and_hlint():
    evs = lp.parse_content(R_LOG, "r_script")
    assert len(evs) == 1
    assert evs[0]["code"] == "library(ggplot2) " or "no package" in evs[0]["message"]
    assert evs[0]["log_line_end"] == 2
    evs = lp.parse_content(HLINT_LOG, "hlint")
    assert len(evs) == 1
    assert evs[0]["message"] == "Eta reduce" and evs[0]["log_line_end"] >= 4


def test_batch8_command_hints():
    cases = {
        "meson setup build": "meson",
        "ninja -C build": "ninja",
        "Rscript analysis.R": "r_script",
        "ansible-lint site.yml": "ansible_lint",
        "ansible-playbook site.yml": "ansible",
        "commitlint --from HEAD~1": "commitlint",
        "hlint src/": "hlint",
        "biome check .": "biome",
        "cypress run": "cypress",
        "nunit3-console App.Tests.dll": "nunit",
    }
    for cmd, fmt in cases.items():
        assert lp.match_command_format(cmd) == fmt, cmd
