"""Agent tool surface (serve.py): dispatch contract + stdio transport.

Mirrors the reference's MCP tool tests (tests/test_mcp_server.py there):
every tool returns a JSON-able envelope, bad input is an error envelope,
and the stdio loop speaks line-delimited JSON.
"""

from __future__ import annotations

import io
import json
import sys

import pytest

from blq_cli_spark import serve
from blq_cli_spark.sources.store import LogStore
from tests.fixtures_blq import make_runs_and_events


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    st = LogStore(spark, str(tmp_path_factory.mktemp("servestore") / "bird"))
    runs, events = make_runs_and_events()
    by_run: dict[str, list] = {}
    for ev in events:
        by_run.setdefault(ev["invocation_id"], []).append(ev)
    for run in runs:
        st.append_run(run, by_run.get(run["id"], []), output=f"line one\nline two {run['id']}\n")
    return st


def test_list_tools_covers_reference_surface(store):
    names = {t["name"] for t in serve.list_tools()}
    # the reference's core agent tools (serve.py:2273-3699)
    assert {
        "status", "history", "events", "query", "inspect", "output",
        "diff", "ci_check", "report", "run", "register", "unregister",
        "commands", "clean", "suppress",
    } <= names
    assert all(t["description"] for t in serve.list_tools())


def test_events_tool_counts_and_rows(store):
    resp = serve.dispatch(store, "events", {"severities": ["error"], "run_serial": 3, "limit": 5})
    assert resp["ok"]
    res = resp["result"]
    assert res["total_count"] >= len(res["events"]) > 0
    assert all(e["severity"] == "error" for e in res["events"])
    json.dumps(resp)  # JSON-able end to end


def test_query_tool_injects_limit(store):
    resp = serve.dispatch(store, "query", {"sql": "SELECT severity FROM events_flat", "limit": 3})
    assert resp["ok"] and len(resp["result"]) == 3


def test_query_tool_limit_guard_not_fooled_by_identifier(store):
    """Regression (ADVICE r2): a column ALIAS containing 'limit' used to
    skip the wrap via the substring test and return unbounded rows."""
    resp = serve.dispatch(
        store,
        "query",
        {"sql": "SELECT severity AS limit_col FROM events_flat", "limit": 3},
    )
    assert resp["ok"] and len(resp["result"]) == 3
    # and an inner LIMIT still composes under the wrapper
    resp = serve.dispatch(
        store,
        "query",
        {"sql": "SELECT severity FROM events_flat LIMIT 2", "limit": 5},
    )
    assert resp["ok"] and len(resp["result"]) == 2


def test_status_history_diff_report(store):
    assert serve.dispatch(store, "status", {})["ok"]
    hist = serve.dispatch(store, "history", {"n": 3})
    assert hist["ok"] and len(hist["result"]) == 3
    d = serve.dispatch(store, "diff", {"baseline": 2, "candidate": 3})
    assert d["ok"] and {r["change"] for r in d["result"]} <= {"new", "fixed", "unchanged"}
    ci = serve.dispatch(store, "ci_check", {"baseline": 3, "candidate": 3})
    assert ci["ok"] and ci["result"]["passed"] is True
    rep = serve.dispatch(store, "report", {"markdown": True})
    assert rep["ok"] and rep["result"].startswith("# Build Report")


def test_output_tool_grep(store):
    resp = serve.dispatch(store, "output", {"run_serial": 2, "grep": "two", "ctx": 0})
    assert resp["ok"] and len(resp["result"]) == 1
    assert "two" in resp["result"][0]["line"]


def test_error_envelopes(store):
    assert not serve.dispatch(store, "no_such_tool", {})["ok"]
    bad = serve.dispatch(store, "output", {"run_serial": 999})
    assert not bad["ok"] and "999" in bad["error"]
    missing = serve.dispatch(store, "inspect", {})
    assert not missing["ok"] and "argument" in missing["error"]


def test_register_commands_roundtrip(store):
    assert serve.dispatch(store, "register", {
        "name": "lint", "argv": [sys.executable, "-c", "print('hi')"],
    })["ok"]
    cmds = serve.dispatch(store, "commands", {})
    assert cmds["ok"] and "lint" in cmds["result"]
    # ci_generate: script text for the registered command
    gen = serve.dispatch(store, "ci_generate", {"names": ["lint"], "workflow": True})
    assert gen["ok"] and "lint" in gen["result"]["scripts"]
    assert "#!" in gen["result"]["scripts"]["lint"]
    assert "workflow" in gen["result"]
    bad = serve.dispatch(store, "ci_generate", {"names": ["nope"]})
    assert not bad["ok"] and "nope" in bad["error"]
    assert serve.dispatch(store, "unregister", {"name": "lint"})["result"]["removed"]


def test_exec_tool(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "execstore"))
    resp = serve.dispatch(st, "exec", {
        "cmd": [sys.executable, "-c", "print('ok')"], "name": "adhoc",
    })
    assert resp["ok"] and resp["result"]["exit_code"] == 0


def test_stdio_transport_roundtrip(store):
    reqs = "\n".join([
        json.dumps({"tool": "__list__"}),
        json.dumps({"tool": "history", "args": {"n": 2}}),
        "not json at all",
    ])
    out = io.StringIO()
    serve.serve_stdio(store, stdin=io.StringIO(reqs), stdout=out)
    lines = [json.loads(ln) for ln in out.getvalue().splitlines()]
    assert len(lines) == 3
    assert lines[0]["ok"] and any(t["name"] == "events" for t in lines[0]["result"])
    assert lines[1]["ok"] and len(lines[1]["result"]) == 2
    assert not lines[2]["ok"]


def test_per_run_tools(store):
    info = serve.dispatch(store, "run_info", {})
    assert info["ok"] and info["result"]["run_serial"] == 8  # default: latest
    info3 = serve.dispatch(store, "run_info", {"run_serial": 3})
    assert info3["ok"] and info3["result"]["run_serial"] == 3
    assert not serve.dispatch(store, "run_info", {"run_serial": 999})["ok"]
    last = serve.dispatch(store, "last", {"n_events": 5, "severity": "error"})
    assert last["ok"]
    assert last["result"]["run"]["run_serial"] == 8
    assert 0 < len(last["result"]["events"]) <= 5
    assert all(e["severity"] == "error" for e in last["result"]["events"])


def test_event_and_context_tools(store):
    ev = serve.dispatch(store, "event", {"ref": "3:1"})
    assert ev["ok"] and ev["result"]["event_index"] == 1
    evs = serve.dispatch(store, "event", {"ref": "3"})
    assert evs["ok"] and len(evs["result"]) > 1
    assert not serve.dispatch(store, "event", {"ref": "3:999"})["ok"]
    assert not serve.dispatch(store, "event", {"ref": "~1"})["ok"]
    ctx = serve.dispatch(store, "context", {"ref": "3:1", "lines": 2})
    assert ctx["ok"]
    res = ctx["result"]
    assert res["log_line_start"] == 3 and res["lines"]
    assert all({"line_number", "line", "is_event"} <= set(ln) for ln in res["lines"])
    assert not serve.dispatch(store, "context", {"ref": "3"})["ok"]  # run ref rejected


def test_prompts_inventory_and_render(store):
    names = {p["name"] for p in serve.list_prompts()}
    assert names == {
        "fix-errors", "analyze-regression", "summarize-run", "investigate-flaky",
    }
    for name in names:
        resp = serve.get_prompt(store, name, {})
        assert resp["ok"], resp
        assert isinstance(resp["result"], str) and "## Instructions" in resp["result"]
    fx = serve.get_prompt(store, "fix-errors", {"run_serial": 3})["result"]
    assert "## Errors to Fix" in fx and "ref:" in fx
    reg = serve.get_prompt(store, "analyze-regression", {"good_run": 3, "bad_run": 4})
    assert reg["ok"] and "Run 3 (good)" in reg["result"]
    assert not serve.get_prompt(store, "nope", {})["ok"]
    # stdio transport: prompt listing + render
    out = io.StringIO()
    reqs = (
        json.dumps({"tool": "__prompts__"}) + "\n"
        + json.dumps({"prompt": "summarize-run"}) + "\n"
    )
    serve.serve_stdio(store, stdin=io.StringIO(reqs), stdout=out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert lines[0]["ok"] and len(lines[0]["result"]) == 4
    assert lines[1]["ok"] and "Run Details" in lines[1]["result"]


def test_info_and_config_tools(store):
    info = serve.dispatch(store, "info", {})
    assert info["ok"]
    res = info["result"]
    assert res["tables"]["runs"] == 8 and res["latest_run_serial"] == 8
    cfg = serve.dispatch(store, "config", {})
    assert cfg["ok"] and set(cfg["result"]) == {"session", "commands", "suppressions"}


def test_config_tool_session_set_reset(store):
    from blq_cli_spark import runtime

    runtime.reset_runtime()
    try:
        got = serve.dispatch(store, "config", {"set": {
            "log_level": "debug", "default_history_limit": 2,
        }})
        assert got["ok"]
        assert got["result"]["session"]["log_level"] == "debug"
        # the knob drives real behavior: history() without n uses it
        hist = serve.dispatch(store, "history", {})
        assert hist["ok"] and len(hist["result"]) == 2
        # unknown key / bad value -> error envelope, state unchanged
        bad = serve.dispatch(store, "config", {"set": {"bogus": 1}})
        assert not bad["ok"] and "bogus" in bad["error"]
        bad2 = serve.dispatch(store, "config", {"set": {"log_level": "loud"}})
        assert not bad2["ok"]
        assert serve.dispatch(store, "config", {})["result"]["session"]["log_level"] == "debug"
        # reset reverts to env-seeded defaults
        back = serve.dispatch(store, "config", {"reset": True})
        assert back["result"]["session"]["log_level"] == "info"
        assert back["result"]["session"]["default_history_limit"] == 20
    finally:
        runtime.reset_runtime()


def test_dispatch_frees_the_call_checkpoints_not_a_prior_cache(store, monkeypatch):
    """Each tool call runs in a checkpoint_scope: the blocks it pinned
    go with the call, a DataFrame cached before it survives."""
    from blq_cli_spark.session import persistent_rdd_ids

    spark = store.spark
    user = spark.range(200).cache()
    before = persistent_rdd_ids(spark)
    assert user.count() == 200
    user_ids = persistent_rdd_ids(spark) - before
    pinned: set[int] = set()

    def _pin(store):
        held = persistent_rdd_ids(spark)
        df = spark.range(100).localCheckpoint(eager=True)
        pinned.update(persistent_rdd_ids(spark) - held)
        return df.count()

    monkeypatch.setitem(serve._TOOLS, "pin_probe", (_pin, "test-only"))
    out = serve.dispatch(store, "pin_probe")
    assert out == {"ok": True, "result": 100}
    held = persistent_rdd_ids(spark)
    assert pinned and not pinned & held
    assert user_ids and user_ids <= held
    assert user.count() == 200
    user.unpersist()


def test_tool_maintain_and_timeseries(store):
    out = serve.dispatch(store, "maintain")
    assert out["ok"] and set(out["result"]) == {
        "dates_rolled", "orphans_swept", "blobs_removed",
    }
    assert out["result"]["dates_rolled"] >= 1  # fixture dates are closed
    ts = serve.dispatch(store, "severity_timeseries")
    assert ts["ok"] and ts["result"]
    row = ts["result"][0]
    assert {"date", "source_name", "severity", "n_events"} <= set(row)
    # idempotent second maintenance pass rolls nothing new
    again = serve.dispatch(store, "maintain")
    assert again["result"]["dates_rolled"] == 0


def test_tool_sandbox_list_and_suggest(store):
    from blq_cli_spark.sources import store as store_mod

    store_mod.register_command(store, "build", ["make"], fmt="gcc")
    out = serve.dispatch(store, "sandbox_list")
    assert out["ok"]
    entry = [r for r in out["result"] if r["command"] == "build"][0]
    assert entry["sandbox"] == "none"
    # no runs named 'build' in the fixture -> clean agent-facing error
    sg = serve.dispatch(store, "sandbox_suggest", {"command": "nothere"})
    assert not sg["ok"] and "no runs" in sg["error"]


def test_resources_inventory_and_read(store):
    assert "blq://status" in serve.list_resources()
    # direct reads resolve to their tool results
    assert serve.read_resource(store, "blq://status")["ok"]
    errs = serve.read_resource(store, "blq://errors")
    assert errs["ok"] and all(
        e["severity"] == "error" for e in errs["result"]["events"]
    )
    run3 = serve.read_resource(store, "blq://errors/3")
    assert run3["ok"] and all(
        e["run_serial"] == 3 for e in run3["result"]["events"]
    )
    guide = serve.read_resource(store, "blq://guide")
    assert guide["ok"] and "events" in guide["result"]
    # malformed uris -> error envelopes, never raises
    assert not serve.read_resource(store, "blq://errors/xyz")["ok"]
    assert not serve.read_resource(store, "http://nope")["ok"]
    bad = serve.read_resource(store, "blq://unknown")
    assert not bad["ok"] and "blq://status" in bad["resources"]
    # stdio transport: listing + read
    out = io.StringIO()
    reqs = (
        json.dumps({"tool": "__resources__"}) + "\n"
        + json.dumps({"resource": "blq://runs"}) + "\n"
    )
    serve.serve_stdio(store, stdin=io.StringIO(reqs), stdout=out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert lines[0]["ok"] and "blq://guide" in lines[0]["result"]
    assert lines[1]["ok"] and len(lines[1]["result"]) == 8


def test_corpus_tool(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "corpstore"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "a b c a b", "web"), (2, "email me x@y.io", "web")],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    resp = serve.dispatch(st, "corpus", {"action": "redact", "input": src})
    assert resp["ok"]
    rows = {r["id"]: r for r in resp["result"]["rows"]}
    assert "<EMAIL>" in rows[2]["redacted"]
    # distributed write path returns counts only
    dst = str(tmp_path / "clean.parquet")
    resp = serve.dispatch(
        st, "corpus", {"action": "exact-dedup", "input": src, "output": dst}
    )
    assert resp["ok"] and resp["result"]["rows"] == 2
    # unknown action surfaces as a tool error, not a crash
    resp = serve.dispatch(st, "corpus", {"action": "nope", "input": src})
    assert not resp["ok"]


def test_disabled_tools_and_safe_mode(tmp_path, spark, monkeypatch, capsys):
    st = LogStore(spark, str(tmp_path / "safestore"))
    disabled = serve.resolve_disabled_tools(safe_mode=True)
    assert "exec" in disabled and "query" in disabled and "run" in disabled
    # dispatch refuses, and __list__ hides
    resp = serve.dispatch(st, "exec", {"cmd": ["true"]}, disabled=disabled)
    assert not resp["ok"] and "disabled" in resp["error"]
    names = {t["name"] for t in serve.list_tools(disabled)}
    assert "exec" not in names and "status" in names
    # env var + CSV + store-config union
    monkeypatch.setenv("BLQ_MCP_DISABLED_TOOLS", "report")
    from blq_cli_spark.sources import store as store_mod

    store_mod.config_set(st, "mcp.disabled_tools", '["diff"]')
    got = serve.resolve_disabled_tools(cli_disabled="history", store=st)
    assert {"report", "history", "diff"} <= got
    # enabled tools still dispatch normally under a disabled set
    ok = serve.dispatch(st, "status", {}, disabled=disabled)
    assert ok["ok"]


def test_embeddings_tool(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "embstore"))
    src = "/root/testdata/sf0.001/embeddings.parquet"
    resp = serve.dispatch(st, "embeddings", {"action": "topk", "input": src, "k": 3})
    assert resp["ok"]
    rows = resp["result"]["rows"]
    assert rows and {"qid", "nid", "cos", "rn"} <= set(rows[0])
    resp = serve.dispatch(st, "embeddings", {"action": "quantize", "input": src,
                                             "output": str(tmp_path / "q.parquet")})
    assert resp["ok"] and resp["result"]["rows"] == 500
    resp = serve.dispatch(st, "embeddings", {"action": "nope", "input": src})
    assert not resp["ok"]


def test_cli_serve_safe_mode_list_tools(tmp_path, capsys):
    from blq_cli_spark.cli import main

    store = str(tmp_path / "smstore")
    assert main(["--store", store, "serve", "--list-tools", "--safe-mode"]) == 0
    names = {t["name"] for t in json.loads(capsys.readouterr().out)}
    assert "status" in names and "events" in names
    assert not (names & serve.SAFE_MODE_DISABLED_TOOLS)

    # --disabled-tools CSV composes with safe mode
    assert main(["--store", store, "serve", "--list-tools",
                 "--disabled-tools", "status,history"]) == 0
    names = {t["name"] for t in json.loads(capsys.readouterr().out)}
    assert "status" not in names and "history" not in names and "exec" in names


def test_corpus_tool_simhash_method_reachable(tmp_path, spark):
    """ADVICE r4: the serve corpus tool must forward the dedup `method`
    param like the CLI verb does — simhash dedup over MCP."""
    st = LogStore(spark, str(tmp_path / "simstore"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "identical boilerplate text for everyone") for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(src)
    resp = serve.dispatch(
        st, "corpus", {"action": "dedup", "input": src, "method": "simhash"}
    )
    assert resp["ok"], resp
    assert len(resp["result"]["rows"]) == 1  # all docs collapse to one


def test_cli_serve_listing_needs_no_spark(tmp_path, capsys, monkeypatch):
    """ADVICE r4: --list-tools/--list-prompts print static metadata and
    must not pay SparkSession startup: break the real store constructor
    and assert listing still works."""
    from blq_cli_spark import cli

    def _boom(args):
        raise AssertionError("listing must not construct the Spark store")

    monkeypatch.setattr(cli, "_store", _boom)
    store = str(tmp_path / "nostore")
    assert cli.main(["--store", store, "serve", "--list-tools"]) == 0
    names = {t["name"] for t in json.loads(capsys.readouterr().out)}
    assert "status" in names
    assert cli.main(["--store", store, "serve", "--list-prompts"]) == 0
    assert json.loads(capsys.readouterr().out)


def test_corpus_tool_round5_actions(tmp_path, spark):
    """Serve twin exposes the round-5 curation actions through the same
    run_action dispatch the CLI uses."""
    st = LogStore(spark, str(tmp_path / "corpstore5"))
    src = str(tmp_path / "docs5.parquet")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today one"),
            (2, "the quick brown fox jumps over the lazy dog today two"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    for action, col in [
        ("gopher", "passes"),
        ("passages", "start_tok"),
        ("score-bigram", "avg_logprob"),
        ("clean-spans", "n_kept"),
    ]:
        resp = serve.dispatch(st, "corpus", {"action": action, "input": src})
        assert resp["ok"], (action, resp)
        assert resp["result"]["rows"] and col in resp["result"]["rows"][0], action
    # classify with inline weights
    resp = serve.dispatch(
        st, "corpus",
        {"action": "classify", "input": src, "weights": [0.0] * 65},
    )
    assert resp["ok"] and abs(resp["result"]["rows"][0]["score"] - 0.5) < 1e-9
    # classify without weights is a clean tool error
    resp = serve.dispatch(st, "corpus", {"action": "classify", "input": src})
    assert not resp["ok"]


def test_corpus_tool_pipeline(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "pipestore"))
    src = str(tmp_path / "pdocs.parquet")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today again"),
            (2, "the quick brown fox jumps over the lazy dog today again"),
            (3, "nah"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    resp = serve.dispatch(
        st, "corpus",
        {"action": "pipeline", "input": src,
         "stages": [{"op": "gopher"}, {"op": "exact-dedup"}]},
    )
    assert resp["ok"], resp
    assert [a["rows"] for a in resp["result"]["audit"]] == [2, 1]
    assert len(resp["result"]["rows"]) == 1
    resp = serve.dispatch(st, "corpus", {"action": "pipeline", "input": src})
    assert not resp["ok"]


def test_corpus_tool_report_and_pack(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "repstore"))
    src = str(tmp_path / "rdocs.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog here today"),
         (2, "the quick brown fox jumps over the lazy dog here today")],
        "doc_id long, text string",
    ).write.parquet(src)
    resp = serve.dispatch(st, "corpus", {"action": "report", "input": src})
    assert resp["ok"]
    metrics = {r["metric"]: r["value"] for r in resp["result"]["rows"]}
    assert metrics["n_docs"] == 2.0 and metrics["dup_rate"] == 0.5
    resp = serve.dispatch(st, "corpus", {"action": "pack", "input": src})
    assert resp["ok"] and len(resp["result"]["rows"]) == 2


def test_embeddings_tool_report(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "embrep"))
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    ).write.parquet(src)
    resp = serve.dispatch(st, "embeddings", {"action": "report", "input": src})
    assert resp["ok"], resp
    m = {r["metric"]: r["value"] for r in resp["result"]["rows"]}
    assert m["n_vecs"] == 2.0 and m["dim_min"] == m["dim_max"] == 2.0
    assert m["max_norm"] == 5.0 and m["n_zero"] == 1.0


def test_corpus_tool_select_dispatch(tmp_path, spark):
    """The serve corpus tool reaches DSIR select with the same contract
    as the CLI: target_source slices the input; missing/double target
    spec is a tool error."""
    st = LogStore(spark, str(tmp_path / "selstore"))
    src = str(tmp_path / "docs.parquet")
    rows = [(i, "def class import return yield " * 3, "code") for i in range(5)]
    rows += [(i, "the quick brown fox jumps over " * 3, "web") for i in range(5, 20)]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)
    resp = serve.dispatch(
        st, "corpus",
        {"action": "select", "input": src, "target_source": "code",
         "n_select": 4},
    )
    assert resp["ok"], resp
    got = resp["result"]["rows"]
    assert len(got) == 4
    assert all("log_weight" in r for r in got)
    resp = serve.dispatch(st, "corpus", {"action": "select", "input": src})
    assert not resp["ok"]


def test_corpus_tool_shuffle_sample_upsample_dispatch(tmp_path, spark):
    """The serve corpus tool reaches the round-5 ordering/budget ops with
    the same semantics as the CLI verbs."""
    st = LogStore(spark, str(tmp_path / "ordstore"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"d{i}", f"s{i % 2}") for i in range(20)],
        "doc_id long, text string, source string",
    ).write.parquet(src)

    resp = serve.dispatch(
        st, "corpus", {"action": "shuffle", "input": src, "seed": 2, "limit": 50}
    )
    assert resp["ok"], resp
    ranks = sorted(r["shuffle_rank"] for r in resp["result"]["rows"])
    assert ranks == list(range(20))

    resp = serve.dispatch(
        st, "corpus",
        {"action": "sample", "input": src, "n_per_source": 4, "limit": 50},
    )
    assert resp["ok"], resp
    assert len(resp["result"]["rows"]) == 8

    resp = serve.dispatch(
        st, "corpus",
        {"action": "upsample", "input": src, "rates": {"s0": 2.0},
         "limit": 100},
    )
    assert resp["ok"], resp
    rows = resp["result"]["rows"]
    assert len(rows) == 20  # s0 doubled, s1 dropped (default_rate 0)
    assert {r["source"] for r in rows} == {"s0"}


def test_corpus_tool_fertility_buckets_token_sample_dispatch(tmp_path, spark):
    """The round-5 metric/budget actions reach through serve with the
    CLI's semantics, including the lang_col override."""
    st = LogStore(spark, str(tmp_path / "metstore"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "the quick brown fox " * 3, "en", f"s{i % 2}") for i in range(12)],
        "doc_id long, text string, language string, source string",
    ).write.parquet(src)

    resp = serve.dispatch(
        st, "corpus",
        {"action": "fertility", "input": src, "lang_col": "language"},
    )
    assert resp["ok"], resp
    assert resp["result"]["rows"][0]["lang"] == "en"

    resp = serve.dispatch(
        st, "corpus",
        {"action": "buckets", "input": src, "lang_col": "language",
         "limit": 20},
    )
    assert resp["ok"], resp
    assert len(resp["result"]["rows"]) == 12

    resp = serve.dispatch(
        st, "corpus",
        {"action": "token-sample", "input": src, "tokens_per_source": 30,
         "limit": 20},
    )
    assert resp["ok"], resp
    rows = resp["result"]["rows"]
    assert rows and all(r["tokens_before"] < 30 for r in rows)

    resp = serve.dispatch(
        st, "corpus", {"action": "pack-report", "input": src}
    )
    assert resp["ok"], resp
    assert resp["result"]["rows"][0]["n_docs"] == 12


def test_corpus_tool_tokenizer_actions_dispatch(tmp_path, spark):
    """train-tokenizer -> encode reach through serve: the merge file
    written by train is consumed by encode, matching the CLI."""
    st = LogStore(spark, str(tmp_path / "tokstore"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "low lower newest widest", "en") for i in range(8)],
        "doc_id long, text string, lang string",
    ).write.parquet(src)
    mpath = str(tmp_path / "merges.json")

    resp = serve.dispatch(
        st, "corpus",
        {"action": "train-tokenizer", "input": src, "merges": mpath,
         "n_merges": 5, "limit": 10},
    )
    assert resp["ok"], resp
    assert resp["result"]["rows"][0] == {"rank": 0, "left": "e", "right": "s"}

    resp = serve.dispatch(
        st, "corpus",
        {"action": "encode", "input": src, "merges": mpath, "limit": 10},
    )
    assert resp["ok"], resp
    # low=2, lower=4, newest=4, widest=4 pieces under the 5 merges
    assert resp["result"]["rows"][0]["n_bpe_tokens"] == 14


def test_corpus_tool_shard_manifest_dispatch(tmp_path, spark):
    from blq_cli_spark.operators import corpus as corpus_ops

    st = LogStore(spark, str(tmp_path / "manstore"))
    docs = spark.createDataFrame(
        [(i, "x y") for i in range(30)], "doc_id long, text string"
    )
    path = str(tmp_path / "shards")
    corpus_ops.write_training_shards(docs, path, shards=3)
    resp = serve.dispatch(
        st, "corpus", {"action": "shard-manifest", "input": path}
    )
    assert resp["ok"], resp
    rows = resp["result"]["rows"]
    assert len(rows) == 3 and sum(r["n_rows"] for r in rows) == 30


def test_embeddings_tool_pca_dispatch(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "pcastore"))
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    resp = serve.dispatch(
        st, "embeddings",
        {"action": "pca", "input": src, "n_components": 2, "limit": 25},
    )
    assert resp["ok"], resp
    rows = resp["result"]["rows"]
    assert len(rows) == 20 and len(rows[0]["pca"]) == 2


def test_corpus_tool_round5_actions_dispatch(tmp_path, spark):
    """The late round-5 actions reach run_action through the generic
    serve path: dedup-paragraphs, pmi, zipf, c4-lines."""
    st = LogStore(spark, str(tmp_path / "r5store"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "alpha beta.\nshared paragraph line", "web") for i in range(6)]
        + [(9, "shared paragraph line\ngamma delta.", "web")],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    for action, col in (("dedup-paragraphs", "n_kept"), ("pmi", "pmi"),
                        ("zipf", "slope"), ("c4-lines", "n_lines")):
        resp = serve.dispatch(st, "corpus", {"action": action, "input": src})
        assert resp["ok"], (action, resp)
        assert col in resp["result"]["rows"][0], action


def test_corpus_tool_bad_text_col_is_clear_error(tmp_path, spark):
    st = LogStore(spark, str(tmp_path / "badcolstore"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "x", "web")], "doc_id long, body string, source string",
    ).write.parquet(src)
    resp = serve.dispatch(st, "corpus", {"action": "profile", "input": src})
    assert not resp["ok"]
    assert "use --text-col" in resp["error"] and "body" in resp["error"]
