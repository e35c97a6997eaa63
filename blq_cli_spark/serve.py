"""Agent-facing tool surface: the reference's MCP server re-expressed as
an in-process tool registry + stdio JSON dispatch.

The reference exposes ~19 FastMCP tools (src/blq/serve.py:2273-3699 —
run, query, events, inspect, output, status, history, diff, ci_check,
report, register/unregister/commands, clean, ...). Those tools are thin
shims over the services layer; this module mirrors that split: every
tool is a (name, params) -> JSON-able dict dispatch over
blq_cli_spark.services / LogStore, so any transport (MCP, HTTP, a CLI
pipe) can wrap it. `blq-spark serve --once` speaks line-delimited JSON
on stdio: {"tool": ..., "args": {...}} -> {"ok": ..., "result": ...} —
the same request/response contract an MCP stdio server fronts.

No network dependencies: the transport here is stdio; the tool registry
is the real surface (reference serve.py keeps the same separation via
_events_impl etc., :993-1032).
"""

from __future__ import annotations

import json
from collections.abc import Callable

import pyspark.sql.functions as F

from blq_cli_spark import output, services
from blq_cli_spark.operators import views
from blq_cli_spark.session import checkpoint_scope
from blq_cli_spark.sources.store import LogStore
from blq_cli_spark.sources import store as store_mod

_TOOLS: dict[str, tuple[Callable, str]] = {}

# Tools a safe-mode server refuses (reference serve.py:61-68
# SAFE_MODE_DISABLED_TOOLS): everything that executes commands, runs raw
# SQL, mutates the registry, or deletes data.
SAFE_MODE_DISABLED_TOOLS = frozenset(
    {"exec", "run", "query", "register", "unregister", "maintain",
     # corpus/embeddings/multimodal read+write arbitrary paths
     "corpus", "embeddings", "multimodal"}
)


def resolve_disabled_tools(
    cli_disabled: str | None = None,
    safe_mode: bool = False,
    store: "LogStore | None" = None,
) -> set[str]:
    """Union of every disable source, mirroring the reference's
    precedence (serve.py:74-131 _init_disabled_tools): safe-mode set +
    --disabled-tools CSV + BLQ_MCP_DISABLED_TOOLS env + the store
    config's mcp.disabled_tools list."""
    import os as _os

    disabled: set[str] = set()
    if safe_mode:
        disabled |= SAFE_MODE_DISABLED_TOOLS
    for csv in (cli_disabled, _os.environ.get("BLQ_MCP_DISABLED_TOOLS", "")):
        if csv:
            disabled.update(t.strip() for t in csv.split(",") if t.strip())
    if store is not None:
        try:
            from_config = store_mod.config_get(store, "mcp.disabled_tools")
        except Exception:
            from_config = None
        if isinstance(from_config, list):
            disabled.update(str(t) for t in from_config)
    return disabled


def tool(name: str, description: str):
    def deco(fn):
        _TOOLS[name] = (fn, description)
        return fn

    return deco


def list_tools(disabled: set[str] | None = None) -> list[dict]:
    return [
        {"name": n, "description": d}
        for n, (_, d) in sorted(_TOOLS.items())
        if not disabled or n not in disabled
    ]


def dispatch(
    store: LogStore,
    tool_name: str,
    args: dict | None = None,
    disabled: set[str] | None = None,
) -> dict:
    """Run one tool call; always returns a JSON-able envelope."""
    if disabled and tool_name in disabled:
        return {"ok": False, "error": f"tool disabled: {tool_name}"}
    if tool_name not in _TOOLS:
        return {"ok": False, "error": f"unknown tool: {tool_name}",
                "tools": [t["name"] for t in list_tools(disabled)]}
    fn, _ = _TOOLS[tool_name]
    try:
        # every tool returns plain, fully consumed values, so the
        # checkpoint blocks its operators pinned can go with the call
        with checkpoint_scope(store.spark):
            return {"ok": True, "result": fn(store, **(args or {}))}
    except TypeError as exc:  # bad/missing params — an agent-facing error
        return {"ok": False, "error": f"bad arguments: {exc}"}
    except ValueError as exc:
        return {"ok": False, "error": str(exc)}


def _rows(df, limit: int | None = None) -> list[dict]:
    if limit is not None:
        df = df.limit(limit)
    return [output.scrub_nulls({k: _plain(v) for k, v in r.asDict().items()}) for r in df.collect()]


def _plain(v):
    return str(v) if hasattr(v, "isoformat") else v


# --- read tools (reference serve.py:2412-2700) -------------------------------


@tool("status", "Latest run status per source")
def _status(store: LogStore) -> list[dict]:
    return _rows(store.source_status())


@tool("history", "Recent runs with error/warning counts")
def _history(store: LogStore, n: int | None = None) -> list[dict]:
    if n is None:
        from blq_cli_spark import runtime

        n = runtime.get_runtime().default_history_limit
    return _rows(services.history_with_counts(store, n=n))


@tool("events", "Query diagnostic events (severity/run/source/file filters)")
def _events(
    store: LogStore,
    severities: list[str] | None = None,
    run_serial: int | None = None,
    source: str | None = None,
    file_pattern: str | None = None,
    limit: int = 50,
) -> dict:
    sup = store_mod.suppressed_fingerprints(store)
    total, rows = services.query_events(
        store,
        severities=severities,
        run_serial=run_serial,
        source=source,
        file_pattern=file_pattern,
        suppressed_fingerprints=sup or None,
        limit=limit,
    )
    return {
        "total_count": total,
        "events": [output.scrub_nulls({k: _plain(v) for k, v in r.asDict().items()}) for r in rows],
    }


@tool("query", "Raw Spark SQL over the registered views (LIMIT-guarded)")
def _query(store: LogStore, sql: str, limit: int = 100) -> list[dict]:
    from blq_cli_spark.plans.sql_macros import expand_macros

    store.register_views()
    sql = expand_macros(sql, store)  # ValueError -> error envelope
    # always wrap: subquery wrapping composes with an inner LIMIT, and a
    # substring test would be fooled by 'limit' in a column name or
    # string literal  (reference serve.py:773-776)
    sql = f"SELECT * FROM ({sql}) LIMIT {int(limit)}"
    return _rows(store.spark.sql(sql))


@tool("inspect", "Event detail with log/source/git/fingerprint enrichment")
def _inspect(
    store: LogStore,
    ref: str,
    lines: int = 3,
    source: bool = False,
    git: bool = False,
    fingerprint: bool = False,
    source_root: str | None = None,
) -> dict | list[dict]:
    """Event refs get the enriched composition (services.inspect_event);
    run refs fall back to the plain resolved rows."""
    if services.parse_ref(ref).is_event():
        return output.scrub_nulls(
            services.inspect_event(
                store, ref, lines=lines, source_root=source_root,
                include_source=source, include_git=git,
                include_fingerprint=fingerprint,
            )
        )
    return _rows(services.resolve_ref(store, ref))


@tool("output", "Stored run output with grep/head/tail/line-spec selection")
def _output(
    store: LogStore,
    run_serial: int,
    lines: str | None = None,
    grep: str | None = None,
    ctx: int = 2,
    head: int | None = None,
    tail: int | None = None,
) -> list[dict]:
    if lines is None and grep is None and head is None and tail is None:
        from blq_cli_spark import runtime

        lines = runtime.get_runtime().default_lines_window or None
    df = services.get_output(
        store, run_serial, lines=lines, grep=grep, ctx=ctx, head=head, tail=tail
    )
    return _rows(df.orderBy("line_number"))


@tool("diff", "Fingerprint regression diff between two runs")
def _diff(store: LogStore, baseline: int, candidate: int) -> list[dict]:
    d = views.diff_fingerprints(store.events_flat(), baseline, candidate)
    return _rows(d.orderBy("change", "fingerprint"))


@tool("ci_check", "Fail if candidate run introduces new fingerprints")
def _ci_check(store: LogStore, baseline: int, candidate: int) -> dict:
    return services.ci_check(store, baseline, candidate)


@tool("report", "Composed build report (markdown or raw data)")
def _report(
    store: LogStore,
    run_serial: int | None = None,
    baseline_serial: int | None = None,
    markdown: bool = False,
) -> dict | str:
    data = services.report_data(store, run_serial=run_serial, baseline_serial=baseline_serial)
    if markdown:
        return output.render_report_markdown(data, include_warnings=True)
    return output.scrub_nulls(data)


# --- write/config tools (reference serve.py run/register/clean) --------------


@tool("run", "Execute a command, capture + parse + store the run")
def _run(store: LogStore, cmd: list[str], source: str | None = None, fmt: str = "auto") -> dict:
    from blq_cli_spark.sources.execution import run_command

    run = run_command(store, cmd, source_name=source, fmt=fmt)
    return {"run_serial": run["run_serial"], "exit_code": run["exit_code"], "id": run["id"]}


@tool("exec", "Execute an ad-hoc command (reference serve.py exec tool)")
def _exec(store: LogStore, cmd: list[str], name: str | None = None, fmt: str = "auto") -> dict:
    from blq_cli_spark.sources.execution import run_command

    run = run_command(store, cmd, source_name=name, fmt=fmt)
    return {"run_serial": run["run_serial"], "exit_code": run["exit_code"], "id": run["id"]}


@tool("ci_generate", "Generate standalone CI runner scripts / workflow text")
def _ci_generate_tool(store: LogStore, names: list[str] | None = None,
                      workflow: bool = False) -> dict:
    """Text-returning twin of `blq-spark ci generate` (reference
    ci_generate, serve.py:3617-3641): scripts for the named (default all)
    registered commands, plus optionally the GitHub workflow."""
    from blq_cli_spark import hooks

    cmds = store_mod.registered_commands(store)
    picked = names or sorted(cmds)
    missing = [n for n in picked if n not in cmds]
    if missing:
        raise ValueError(f"unknown commands: {', '.join(missing)}")
    out = {n: hooks.generate_ci_script(n, cmds[n]) for n in picked}
    result: dict = {"scripts": out}
    if workflow:
        result["workflow"] = hooks.generate_github_workflow(
            {n: cmds[n] for n in picked}
        )
    return result


@tool("register", "Register a named command for `run`")
def _register(store: LogStore, name: str, argv: list[str], fmt: str | None = None,
              tag: str | None = None) -> dict:
    store_mod.register_command(store, name, argv, fmt=fmt, tag=tag)
    return {"registered": name}


@tool("unregister", "Remove a registered command")
def _unregister(store: LogStore, name: str) -> dict:
    return {"removed": store_mod.unregister_command(store, name)}


@tool("commands", "List registered commands")
def _commands(store: LogStore) -> dict:
    return store_mod.registered_commands(store)


@tool("suppress", "Suppress a fingerprint (optionally per command)")
def _suppress(store: LogStore, fingerprint: str, command: str = "*") -> dict:
    store_mod.suppress_fingerprint(store, fingerprint, command=command)
    return {"suppressed": fingerprint, "command": command}


@tool("clean", "Retention prune: age/count/size rules")
def _clean(
    store: LogStore,
    max_age_days: int | None = None,
    max_runs_per_source: int | None = None,
    max_total_bytes: int | None = None,
) -> dict:
    removed = 0
    if max_age_days is not None or max_runs_per_source is not None:
        removed += store.prune_runs(
            max_age_days=max_age_days, max_runs_per_source=max_runs_per_source
        )
    if max_total_bytes is not None:
        removed += store.prune_by_size(max_total_bytes)
    removed_blobs = store.cleanup_orphaned_blobs()
    return {"removed_runs": removed, "removed_blobs": removed_blobs}


@tool("info", "Store location, table row counts, latest run")
def _info(store: LogStore) -> dict:
    counts = {name: store.table(name).count() for name in ("runs", "events", "outputs")}
    latest = store.runs().agg(F.max("run_serial").alias("m")).collect()[0]["m"]
    return {
        "root": store.root,
        "schema_version": store.schema_version(),
        "tables": counts,
        "latest_run_serial": int(latest) if latest is not None else None,
    }


@tool("config", "Session runtime knobs + registered commands + suppressions")
def _config(store: LogStore, set: dict | None = None, reset: bool = False) -> dict:
    """Read/update the in-memory session config (reference config tool,
    serve.py:3655-3692 + runtime.py): `set` merges validated keys,
    `reset` reverts to env-seeded values; both return the new state.
    Persistent store state (commands, suppressions) rides along
    read-only — it is managed by its own tools."""
    from blq_cli_spark import runtime

    if reset:
        session = runtime.reset_runtime()
    elif set:
        session = runtime.update_runtime(set)  # ValueError -> error envelope
    else:
        session = runtime.get_runtime()
    return {
        "session": session.to_dict(),
        "commands": store_mod.registered_commands(store),
        "suppressions": store_mod._load_config(store).get("suppressions", {}),
    }


@tool("sandbox_summary", "Grouped sandbox/extension-data summary")
def _sandbox_summary(store: LogStore) -> list[dict]:
    return _rows(views.sandbox_summary(store.runs()))


# --- per-run detail tools (reference serve.py:2412+, cli.py:445-471) ---------


def _latest_serial(store: LogStore) -> int | None:
    m = store.runs().agg(F.max("run_serial").alias("m")).collect()[0]["m"]
    return int(m) if m is not None else None


@tool("run_info", "One run's metadata + event counts (default: latest)")
def _run_info(store: LogStore, run_serial: int | None = None) -> dict:
    if run_serial is None:
        run_serial = _latest_serial(store)
        if run_serial is None:
            raise ValueError("store has no runs")
    rows = _rows(
        store.runs_loaded().filter(F.col("run_serial") == run_serial)
    )
    if not rows:
        raise ValueError(f"no run with serial {run_serial}")
    return rows[0]


@tool("last", "Most recent run summary + its first N events")
def _last(
    store: LogStore, n_events: int = 20, severity: str | None = None
) -> dict:
    serial = _latest_serial(store)
    if serial is None:
        raise ValueError("store has no runs")
    info = _run_info(store, serial)
    ev = store.events_flat().filter(F.col("run_serial") == serial)
    if severity:
        ev = ev.filter(F.col("severity") == severity)
    return {
        "run": info,
        "events": _rows(ev.orderBy("event_index").limit(n_events)),
    }


@tool("event", "Event detail by ref (run ref lists the run's events)")
def _event(store: LogStore, ref: str) -> dict | list[dict]:
    parsed = services.parse_ref(ref)
    if parsed.relative is not None:
        raise ValueError("relative refs not supported here; use an absolute ref")
    rows = _rows(services.resolve_ref(store, ref))
    if not rows:
        raise ValueError(f"no match for ref {ref!r}")
    if parsed.is_event():
        return rows[0]
    flat = store.events_flat().filter(F.col("run_serial") == parsed.serial)
    if parsed.tag is not None:
        flat = flat.filter(F.col("tag") == parsed.tag)
    return _rows(flat.orderBy("event_index"))


@tool("context", "Raw-output lines around an event's log lines")
def _context(store: LogStore, ref: str, lines: int = 3) -> dict:
    parsed = services.parse_ref(ref)
    if not parsed.is_event():
        raise ValueError("context requires an event ref (e.g., 5:3)")
    rows = services.resolve_ref(store, ref).collect()
    if not rows:
        raise ValueError(f"no match for ref {ref!r}")
    e = rows[0]
    start = e["log_line_start"]
    if start is None:
        return {"ref": ref, "message": e["message"], "lines": []}
    end = e["log_line_end"] or start
    df = services.get_output(
        store, parsed.serial, lines=f"{max(1, start - lines)}-{end + lines}"
    )
    out = [
        {
            "line_number": r["line_number"],
            "line": r["line"],
            "is_event": start <= r["line_number"] <= end,
        }
        for r in df.orderBy("line_number").collect()
    ]
    return {"ref": ref, "log_line_start": start, "log_line_end": end, "lines": out}


@tool("severity_timeseries", "Per-day severity/tool counts (rollup-first)")
def _severity_timeseries(store: LogStore, limit: int = 200) -> list[dict]:
    df = store.severity_timeseries().orderBy(
        "date", "source_name", "severity", "tool_name"
    )
    return _rows(df.limit(limit))


@tool("maintain", "Periodic maintenance: rollup refresh + orphan sweep + blob GC")
def _maintain(store: LogStore, orphan_min_age: int = 60) -> dict:
    return {
        "dates_rolled": store.maintain_rollup(),
        "orphans_swept": store.sweep_orphans(max_age_seconds=orphan_min_age),
        "blobs_removed": store.cleanup_orphaned_blobs(),
    }


@tool("sandbox_list", "Per-command sandbox specs with grades")
def _sandbox_list(store: LogStore) -> list[dict]:
    from blq_cli_spark import sandbox as sbx

    out = []
    for name, cmd in sorted(store_mod.registered_commands(store).items()):
        raw = cmd.get("sandbox")
        spec = sbx.resolve(raw) if raw is not None else None
        out.append({
            "command": name,
            "sandbox": (spec.matching_preset() or "custom") if spec else "none",
            "grade": spec.grade if spec else None,
            "spec": spec.to_dict() if spec else None,
        })
    return out


@tool("sandbox_suggest", "Suggest a sandbox spec from observed run metrics")
def _sandbox_suggest(store: LogStore, command: str) -> dict:
    from blq_cli_spark import sandbox as sbx

    got = sbx.suggest_spec(store.runs(), command)
    if got is None:
        raise ValueError(f"no runs found for {command!r}")
    observed, suggested = got
    return {"observed": observed, "suggested": suggested}


@tool("corpus", "Training-data curation ops over a parquet corpus "
      "(profile/quality/redact/funnel/dedup/exact-dedup/mix/upsample/"
      "decontaminate/clean-spans/select/sample/shuffle/chunk/pack/"
      "report/pipeline/score/score-bigram/source-kl/winnow/tokens/"
      "gopher/classify/passages/materialize/fertility/buckets/"
      "pack-report/token-sample/split/train-tokenizer/encode/"
      "bpe-fertility/shard-manifest/sweep/extract/normalize/"
      "dedup-paragraphs/pmi/zipf/c4-lines/gopher-lines/"
      "langid-train/langid)")
def _corpus(
    store: LogStore,
    action: str,
    input: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    rates: dict | None = None,
    default_rate: float = 0.0,
    benchmark: str | None = None,
    ngram: int = 4,
    method: str = "minhash",
    signatures: str | None = None,
    span_tokens: int = 10,
    min_docs: int = 2,
    weights: list | None = None,
    stages: list | None = None,
    capacity_tokens: int = 512,
    target: str | None = None,
    target_source: str | None = None,
    n_select: int = 100,
    seed: int = 0,
    chunk_size: int = 128,
    chunk_overlap: int = 0,
    history: str | None = None,
    n_per_source: int = 100,
    n_buckets: int = 3,
    lang_col: str = "lang",
    tokens_per_source: int = 100_000,
    merges: str | None = None,
    n_merges: int = 1000,
    top_k_words: int = 100_000,
    with_tokens: bool = False,
    score_col: str = "score",
    label_col: str = "label",
    thresholds: list | None = None,
    norm_form: str = "NFC",
    model: str | None = None,
    output: str | None = None,
    limit: int = 50,
) -> dict:
    """Same dispatch as the `corpus` CLI verb (operators/corpus.py
    run_action). With `output`, the full result writes as parquet
    (distributed) and only counts return; otherwise a bounded sample."""
    from blq_cli_spark.operators import corpus as corpus_ops

    import pyspark.sql.functions as F

    if action == "shard-manifest":
        # operates on a write_training_shards DIRECTORY, not a corpus
        out = corpus_ops.shard_manifest(
            store.spark, input, id_col=id_col, text_col=text_col
        )
        if output:
            out.write.mode("overwrite").parquet(output)
            return {"written": output,
                    "rows": store.spark.read.parquet(output).count()}
        return {"rows": _rows(out, limit)}
    docs = store.spark.read.parquet(input)
    if action == "decontaminate" and benchmark and "," in benchmark:
        # benchmark-suite form: comma-separated paths, one pass,
        # per-benchmark attribution (quality.decontaminate_multi)
        import os as _os

        from blq_cli_spark.operators import quality as quality_ops

        benches = {
            _os.path.splitext(_os.path.basename(p.rstrip("/")))[0]:
                store.spark.read.parquet(p)
            for p in benchmark.split(",") if p
        }
        out = quality_ops.decontaminate_multi(
            docs, benches, text_col=text_col, id_col=id_col, n=ngram
        )
        if output:
            out.write.mode("overwrite").parquet(output)
            return {"written": output,
                    "rows": store.spark.read.parquet(output).count()}
        return {"rows": _rows(out, limit)}
    bench = store.spark.read.parquet(benchmark) if benchmark else None
    tgt = None
    if action == "select":
        if bool(target) == bool(target_source):
            raise ValueError(
                "select requires exactly one of target (parquet path) or "
                "target_source (comma-separated source values)"
            )
        if target:
            tgt = store.spark.read.parquet(target)
        else:
            srcs = [s for s in target_source.split(",") if s]
            tgt = docs.filter(F.col(source_col).isin(srcs))
    if action == "pipeline":
        if not isinstance(stages, list):
            raise ValueError("pipeline requires stages: a JSON list")
        for st_spec in stages:
            if isinstance(st_spec.get("benchmark"), str):
                st_spec["benchmark"] = store.spark.read.parquet(st_spec["benchmark"])
            if isinstance(st_spec.get("target"), str):
                st_spec["target"] = store.spark.read.parquet(st_spec["target"])
        out, audit = corpus_ops.pipeline(
            docs, stages, text_col=text_col, id_col=id_col, audit=True
        )
        if output:
            out.write.mode("overwrite").parquet(output)
            return {"written": output, "audit": audit,
                    "rows": store.spark.read.parquet(output).count()}
        return {"audit": audit, "rows": _rows(out, limit)}
    out = corpus_ops.run_action(
        docs, action, text_col=text_col, id_col=id_col, source_col=source_col,
        rates=rates, default_rate=default_rate, benchmark=bench, ngram=ngram,
        method=method, signatures=signatures, span_tokens=span_tokens,
        min_docs=min_docs, weights=weights, capacity_tokens=capacity_tokens,
        target=tgt, n_select=n_select, seed=seed,
        chunk_size=chunk_size, chunk_overlap=chunk_overlap, history=history,
        n_per_source=n_per_source, n_buckets=n_buckets, lang_col=lang_col,
        tokens_per_source=tokens_per_source, merges=merges,
        n_merges=n_merges, top_k_words=top_k_words, with_tokens=with_tokens,
        score_col=score_col, label_col=label_col, thresholds=thresholds,
        norm_form=norm_form, model=model,
    )
    if output:
        out.write.mode("overwrite").parquet(output)
        return {"written": output, "rows": store.spark.read.parquet(output).count()}
    return {"rows": _rows(out, limit)}


@tool("embeddings", "Similarity/ANN ops over an embedding parquet "
      "(topk exact|lsh|ivf|quantized, quantize, normalize, neardup, "
      "semantic-dedup, cluster, report, decontaminate, pca, "
      "index-build/append/search/info/compact/retrain)")
def _embeddings(
    store: LogStore,
    action: str,
    input: str,
    queries: str | None = None,
    n_queries: int = 8,
    k: int = 5,
    method: str = "exact",
    threshold: float = 0.95,
    k_cells: int = 16,
    iters: int = 10,
    benchmark: str | None = None,
    n_components: int = 16,
    whiten: bool = False,
    index: str | None = None,
    nprobe: int = 2,
    drift: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    output: str | None = None,
    limit: int = 50,
) -> dict:
    """Serve twin of the `embeddings` CLI verb (cli.py cmd_embeddings)."""
    from blq_cli_spark.operators import similarity

    spark = store.spark
    emb = spark.read.parquet(input)
    if action == "quantize":
        out = similarity.quantize_embeddings(emb, vec_col=vec_col, id_col=id_col)
    elif action == "normalize":
        out = similarity.l2_normalize(emb, id_col=id_col, vec_col=vec_col)
    elif action == "eval":
        qdf = (
            spark.read.parquet(queries)
            if queries
            else emb.orderBy(id_col).limit(n_queries)
        )
        out = similarity.ann_recall(
            emb, qdf, method=method if method != "exact" else "ivf",
            k=k, id_col=id_col, vec_col=vec_col,
        )
    elif action == "topk":
        qdf = (
            spark.read.parquet(queries)
            if queries
            else emb.orderBy(id_col).limit(n_queries)
        )
        if method == "lsh":
            out = similarity.lsh_bucket_topk(emb, qdf, k=k, id_col=id_col, vec_col=vec_col)
        elif method == "ivf":
            out = similarity.ivf_topk(emb, qdf, k=k, id_col=id_col, vec_col=vec_col)
        elif method == "quantized":
            out = similarity.cosine_topk_quantized(
                similarity.quantize_embeddings(emb, vec_col=vec_col, id_col=id_col),
                qdf, k=k, id_col=id_col, vec_col=vec_col,
            )
        else:
            out = similarity.cosine_topk(emb, qdf, k=k, id_col=id_col, vec_col=vec_col)
    elif action == "neardup":
        out = similarity.neardup_pairs(emb, threshold=threshold, id_col=id_col, vec_col=vec_col)
    elif action == "semantic-dedup":
        sd_method = {"lsh": "bucketed", "ivf": "kmeans"}.get(method, "exact")
        out = similarity.semantic_dedup(
            emb, threshold=threshold, id_col=id_col, vec_col=vec_col,
            method=sd_method,
        )
    elif action == "cluster":
        from blq_cli_spark.operators import clustering

        cents = clustering.kmeans_fit(
            emb, k=k_cells, iters=iters, id_col=id_col, vec_col=vec_col
        )
        out = clustering.kmeans_assign(emb, cents, id_col=id_col, vec_col=vec_col)
    elif action == "report":
        out = similarity.embeddings_report(emb, id_col=id_col, vec_col=vec_col)
    elif action == "pca":
        model = similarity.pca_fit(emb, n_components=n_components, vec_col=vec_col)
        out = similarity.pca_project(
            emb, model, id_col=id_col, vec_col=vec_col, whiten=whiten
        )
    elif action == "decontaminate":
        if not benchmark:
            raise ValueError("decontaminate requires a benchmark parquet path")
        out = similarity.semantic_decontaminate(
            emb, spark.read.parquet(benchmark), threshold=threshold,
            id_col=id_col, vec_col=vec_col,
        )
    elif action in ("index-build", "index-append", "index-search",
                    "index-info", "index-compact", "index-retrain"):
        from blq_cli_spark.operators import ann_index

        if not index:
            raise ValueError(f"{action} requires an index directory path")
        if action == "index-retrain":
            meta = ann_index.ivf_retrain_index(spark, index, iters=iters)
            return {"index": index, "retrained": True,
                    "k_cells": meta["k_cells"],
                    "ann_recall": meta.get("ann_recall"),
                    "history_len": len(meta.get("ann_recall_history", []))}
        if action == "index-info":
            return {"rows": _rows(
                ann_index.ivf_index_info(spark, index, drift=drift), limit
            ), "retrain_recommended": ann_index.load_meta(index).get(
                "retrain_recommended"
            )}
        if action == "index-compact":
            return {"index": index,
                    **ann_index.ivf_compact_index(spark, index)}
        if action == "index-build":
            meta = ann_index.ivf_build_index(
                emb, index, k_cells=k_cells, iters=iters,
                id_col=id_col, vec_col=vec_col,
            )
            return {"index": index, "k_cells": meta["k_cells"],
                    "dim": meta["dim"]}
        if action == "index-append":
            meta = ann_index.ivf_append_index(
                emb, index, id_col=id_col, vec_col=vec_col
            )
            return {"index": index, "appended": True,
                    "k_cells": meta["k_cells"],
                    "retrain_recommended": meta.get("retrain_recommended")}
        qdf = (
            spark.read.parquet(queries)
            if queries
            else emb.orderBy(id_col).limit(n_queries)
        )
        out = ann_index.ivf_search_index(
            spark, index, qdf, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        raise ValueError(f"unknown embeddings action: {action}")
    if output:
        out.write.mode("overwrite").parquet(output)
        return {"written": output, "rows": store.spark.read.parquet(output).count()}
    return {"rows": _rows(out, limit)}


@tool("multimodal", "Binary-column ops over a (id, content binary) parquet "
      "(metadata, image-hash dhash|phash, image-dedup, audio-fingerprint, "
      "audio-dedup, video-hashes, video-dedup, decode, resize, frames, "
      "audio-features)")
def _multimodal(
    store: LogStore,
    action: str,
    input: str,
    method: str = "dhash",
    max_hamming: int = 7,
    min_frame_matches: int = 1,
    width: int = 32,
    height: int = 32,
    every_ms: int = 1000,
    window_ms: int = 1000,
    fake: bool = False,
    id_col: str = "id",
    bin_col: str = "content",
    output: str | None = None,
    limit: int = 50,
) -> dict:
    """Same dispatch as the `multimodal` CLI verb (multimodal/binary.py)."""
    from blq_cli_spark.multimodal import binary as mmb

    df = store.spark.read.parquet(input)
    if action == "metadata":
        out = mmb.extract_metadata(df, id_col=id_col, bin_col=bin_col)
    elif action == "image-hash":
        out = mmb.image_perceptual_hash(df, id_col=id_col, bin_col=bin_col, method=method)
    elif action == "image-dedup":
        out = mmb.image_dedup_pairs(
            df, id_col=id_col, bin_col=bin_col, method=method, max_hamming=max_hamming
        )
    elif action == "audio-fingerprint":
        out = mmb.audio_fingerprint(df, id_col=id_col, bin_col=bin_col)
    elif action == "audio-dedup":
        out = mmb.audio_dedup_pairs(
            df, id_col=id_col, bin_col=bin_col, max_hamming=max_hamming
        )
    elif action == "video-hashes":
        out = mmb.video_frame_hashes(df, id_col=id_col, bin_col=bin_col)
    elif action == "video-dedup":
        out = mmb.video_dedup_pairs(
            df, id_col=id_col, bin_col=bin_col, max_hamming=max_hamming,
            min_frame_matches=min_frame_matches,
        )
    elif action == "decode":
        out = mmb.decode_image(df, id_col=id_col, bin_col=bin_col, fake=fake)
    elif action == "resize":
        out = mmb.resize_image(df, width, height, id_col=id_col, bin_col=bin_col, fake=fake)
    elif action == "frames":
        out = mmb.sample_video_frames(
            df, every_ms=every_ms, id_col=id_col, bin_col=bin_col, fake=fake
        )
    elif action == "audio-features":
        out = mmb.audio_features(df, window_ms=window_ms, id_col=id_col, bin_col=bin_col)
    else:
        raise ValueError(f"unknown multimodal action: {action}")
    if output:
        out.write.mode("overwrite").parquet(output)
        return {"written": output, "rows": store.spark.read.parquet(output).count()}
    return {"rows": _rows(out, limit)}


# --- prompts (reference serve.py:3825-4016, 4 MCP prompts) -------------------

_PROMPTS: dict[str, tuple[Callable, str]] = {}


def prompt(name: str, description: str):
    def deco(fn):
        _PROMPTS[name] = (fn, description)
        return fn

    return deco


def list_prompts() -> list[dict]:
    return [{"name": n, "description": d} for n, (_, d) in sorted(_PROMPTS.items())]


def get_prompt(store: LogStore, name: str, args: dict | None = None) -> dict:
    """Render one prompt; same envelope contract as dispatch()."""
    if name not in _PROMPTS:
        return {"ok": False, "error": f"unknown prompt: {name}",
                "prompts": [p["name"] for p in list_prompts()]}
    fn, _ = _PROMPTS[name]
    try:
        return {"ok": True, "result": fn(store, **(args or {}))}
    except TypeError as exc:
        return {"ok": False, "error": f"bad arguments: {exc}"}
    except ValueError as exc:
        return {"ok": False, "error": str(exc)}


def _status_table(store: LogStore) -> str:
    lines = ["| Source | Status | Errors | Warnings |",
             "|--------|--------|--------|----------|"]
    for s in _rows(store.source_status()):
        lines.append(
            f"| {s.get('source_name', '?')} | {s.get('badge', '?')} "
            f"| {s.get('n_errors', 0)} | {s.get('n_warnings', 0)} |"
        )
    return "\n".join(lines)


def _history_table(store: LogStore, n: int) -> str:
    lines = ["| Run | Status | Errors |", "|-----|--------|--------|"]
    for r in _rows(services.history_with_counts(store, n=n)):
        lines.append(
            f"| {r.get('ref', r.get('run_serial'))} | {r.get('badge', '?')} "
            f"| {r.get('n_errors', 0)} |"
        )
    return "\n".join(lines)


@prompt("fix-errors", "Guide through fixing build errors systematically")
def _p_fix_errors(
    store: LogStore, run_serial: int | None = None, file_pattern: str | None = None
) -> str:
    res = _events(
        store, severities=["error"], run_serial=run_serial,
        file_pattern=file_pattern, limit=20,
    )
    error_lines = []
    for i, err in enumerate(res["events"], 1):
        error_lines.append(
            f"{i}. **ref: {err.get('ref')}** `{err.get('loc', '?')}`\n"
            f"   ```\n   {err.get('message', '')}\n   ```"
        )
    error_list = "\n\n".join(error_lines) or "No errors found."
    return f"""You are helping fix build errors in a software project.

## Current Status

{_status_table(store)}

## Errors to Fix

{error_list}

## Instructions

1. Read each error and understand the root cause
2. Use `event(ref="...")` for full context if the message is unclear
3. Use `context(ref="...")` to see surrounding log lines
4. Fix errors in dependency order: missing includes/declarations first,
   then type errors, then syntax errors
5. After fixing, run `run(cmd=[...])` to verify
6. Repeat until build passes

Focus on fixing the root cause, not just suppressing warnings."""


@prompt("analyze-regression", "Identify why a build started failing between two runs")
def _p_analyze_regression(
    store: LogStore, good_run: int | None = None, bad_run: int | None = None
) -> str:
    hist = _rows(services.history_with_counts(store, n=10))
    if not hist:
        return 'No runs found. Run a build first with `run(cmd=[...])`.'
    if bad_run is None:
        bad_run = hist[0]["run_serial"]
    if good_run is None:
        good_run = next(
            (r["run_serial"] for r in hist[1:] if not r.get("n_errors")),
            max(bad_run - 1, 1),
        )
    data = services.report_data(store, run_serial=bad_run, baseline_serial=good_run)
    new = data.get("new_errors", [])
    new_lines = "\n".join(
        f"- `{e.get('ref_file', '?')}:{e.get('ref_line', '?')}`  {e.get('message', '')}"
        for e in new
    ) or "None"
    return f"""You are analyzing why a build started failing.

## Run Comparison

| Metric | Run {good_run} (good) | Run {bad_run} (bad) | Delta |
|--------|--------------|-------------|-------|
| Errors | {data.get("baseline_errors", 0)} | {data.get("total_errors", 0)} | +{len(new)} |

## New Errors (not in Run {good_run})

{new_lines}

## Instructions

1. Review the new errors that appeared
2. Look for patterns (same file, same error type)
3. Use `event(ref="...")` for full error context
4. Identify the root cause
5. Suggest the minimal fix to restore the build"""


@prompt("summarize-run", "Generate a concise summary of a build/test run")
def _p_summarize_run(store: LogStore, run_serial: int | None = None) -> str:
    try:
        info = _run_info(store, run_serial)
    except ValueError:
        return 'No runs found. Run a build first with `run(cmd=[...])`.'
    res = _events(
        store, severities=["error"], run_serial=info["run_serial"], limit=10
    )
    error_lines = "\n".join(
        f"- `{e.get('loc', '?')}` - {(e.get('message') or '')[:80]}"
        for e in res["events"]
    ) or "No errors"
    return f"""Summarize this build/test run.

## Run Details

- **Run:** {info.get("ref", info["run_serial"])}
- **Status:** {info.get("badge", "?")}
- **Errors:** {info.get("n_errors", 0)}
- **Warnings:** {info.get("n_warnings", 0)}

## Error Details

{error_lines}

## Instructions

Generate a summary suitable for a GitHub PR comment:
- Lead with pass/fail status
- List the key errors (not all warnings)
- Suggest what might have caused the failure
- Keep it concise"""


@prompt("investigate-flaky", "Investigate intermittently failing tests")
def _p_investigate_flaky(
    store: LogStore, test_pattern: str | None = None, lookback: int = 10
) -> str:
    hist = _rows(services.history_with_counts(store, n=lookback))
    if not hist:
        return 'No runs found. Run tests first with `run(cmd=[...])`.'
    return f"""You are investigating flaky (intermittently failing) tests.

## Test History (last {lookback} runs)

{_history_table(store, lookback)}

## Instructions

1. Look for patterns in failures
2. Use `events(run_serial=N)` to see errors for specific runs
3. Use `event(ref="...")` for detailed failure output
4. Look for race conditions (concurrent, parallel, thread), timing
   issues (timeout, sleep, wait), resource contention (connection,
   file, lock)
5. Suggest fixes to make tests more deterministic"""


# --- resources: URI-addressed read-only views (reference serve.py:3700-3800,
# @mcp.resource blq://...) — each resolves to a tool call, so any MCP
# framing layer can advertise them verbatim -----------------------------------

RESOURCES = (
    "blq://status",
    "blq://runs",
    "blq://events",
    "blq://event/{ref}",
    "blq://errors",
    "blq://errors/{run_serial}",
    "blq://warnings",
    "blq://warnings/{run_serial}",
    "blq://context/{ref}",
    "blq://commands",
    "blq://guide",
)

_GUIDE = """blq-spark agent guide.
Start with resource blq://status, then blq://errors. Use the `events`
tool for filtered queries, `query` for raw SQL over events_flat /
runs_loaded (blq_* macros supported), `inspect` for one event with
log/source/git context, `run`/`exec` to execute commands, `report` for
a composed summary. Refs look like tag:serial[:event], e.g. build:5:2.
"""


def list_resources() -> list[str]:
    return list(RESOURCES)


def read_resource(store: LogStore, uri: str) -> dict:
    """Resolve one blq:// URI to its tool result (error envelope on an
    unknown or malformed URI)."""
    if not uri.startswith("blq://"):
        return {"ok": False, "error": f"not a blq:// uri: {uri}"}
    path = uri[len("blq://"):]
    head, _, arg = path.partition("/")
    sev = {"errors": "error", "warnings": "warning"}
    if head == "status" and not arg:
        return dispatch(store, "status")
    if head == "runs" and not arg:
        return dispatch(store, "history", {"n": 100})
    if head == "events" and not arg:
        return dispatch(store, "events", {"limit": 100})
    if head in sev:
        args: dict = {"severities": [sev[head]], "limit": 50 if not arg else 100}
        if arg:
            try:
                args["run_serial"] = int(arg)
            except ValueError:
                return {"ok": False, "error": f"invalid run serial: {arg!r}"}
        return dispatch(store, "events", args)
    if head == "event" and arg:
        return dispatch(store, "event", {"ref": arg})
    if head == "context" and arg:
        return dispatch(store, "context", {"ref": arg})
    if head == "commands" and not arg:
        return dispatch(store, "commands")
    if head == "guide" and not arg:
        return {"ok": True, "result": _GUIDE}
    return {"ok": False, "error": f"unknown resource: {uri}",
            "resources": list_resources()}


def serve_stdio(
    store: LogStore,
    stdin=None,
    stdout=None,
    once: bool = False,
    disabled: set[str] | None = None,
) -> int:
    """Line-delimited JSON loop: one request object per line. This is the
    transport the reference's MCP stdio server provides; swap in a real
    MCP framing layer without touching the tools. `disabled` tools are
    hidden from __list__ and refused at dispatch (reference safe mode /
    --disabled-tools)."""
    import sys

    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            req = json.loads(line)
        except json.JSONDecodeError as exc:
            resp = {"ok": False, "error": f"bad request json: {exc}"}
        else:
            if req.get("tool") == "__list__":
                resp = {"ok": True, "result": list_tools(disabled)}
            elif req.get("tool") == "__prompts__":
                resp = {"ok": True, "result": list_prompts()}
            elif req.get("tool") == "__resources__":
                resp = {"ok": True, "result": list_resources()}
            elif "resource" in req:
                resp = read_resource(store, req.get("resource", ""))
            elif "prompt" in req:
                resp = get_prompt(store, req.get("prompt", ""), req.get("args"))
            else:
                resp = dispatch(store, req.get("tool", ""), req.get("args"),
                                disabled=disabled)
        stdout.write(json.dumps(resp, default=str) + "\n")
        stdout.flush()
        if once:
            break
    return 0
