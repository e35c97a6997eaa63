"""CLI surface mirroring the reference's command set (argparse tree
src/blq/cli.py:932-961 query/filter, :611-618 sql, :420-431 import/capture;
command semantics per SURVEY.md §3.1).

    blq-spark status | history | errors | warnings | running | report
    blq-spark query [-f expr]... [-i] [-v] [--select ...] [--order ...]
    blq-spark sql "SELECT ..."           (LIMIT injected if missing, O5)
    blq-spark import FILE [--format F]   (S8)
    blq-spark capture [--format F]       (stdin, S7)
    blq-spark diff N M [--fingerprints]  (J4/J8)
    blq-spark clean --blobs
"""

from __future__ import annotations

import argparse
import os
import re
import sys

import pyspark.sql.functions as F

from blq_cli_spark import output, services
from blq_cli_spark.output import format_output
from blq_cli_spark.plans.query import LogQuery
from blq_cli_spark.operators import views
from blq_cli_spark.sources import logparse
from blq_cli_spark.sources.store import LogStore


def _store(args) -> LogStore:
    from blq_cli_spark.session import get_spark

    spark = get_spark(app_name="blq-spark-cli")
    return LogStore(spark, args.store)


def _emit(df_or_rows, args, **kwargs) -> None:
    print(format_output(df_or_rows, args.format, **kwargs))


def cmd_status(args) -> int:
    _emit(_store(args).source_status(), args)
    return 0


def cmd_history(args) -> int:
    st = _store(args)
    cols = ["ref", "run_serial", "source_name", "badge", "n_events", "n_errors", "n_warnings", "cmd"]
    _emit(views.history(st.runs_loaded(), n=args.n).select(*cols), args)
    return 0


def _emit_events(df, args) -> None:
    cols = ["ref", "severity", "loc", "message", "tool_name", "short_fp"]
    _emit(df.select(*cols), args)


def _without_suppressed(st, flat):
    """Apply the store's persisted suppression list (P8, reference
    core.py:1459-1500) before the errors/warnings views."""
    from blq_cli_spark.sources import store as store_mod

    fps = store_mod.suppressed_fingerprints(st)
    if not fps:
        return flat
    return flat.filter(
        F.col("fingerprint").isNull() | ~F.col("fingerprint").isin(fps)
    )


def cmd_events(args) -> int:
    """`blq events [SOURCE|REF]`: the general event listing `errors` /
    `warnings` specialize (reference cmd_events,
    src/blq/commands/management.py:843-916). Positional arg is a run ref
    when it looks like one (`build:5`, `+1`, `~2`, bare serial), else a
    source name; `--severity` takes a comma list; suppressed fingerprints
    are hidden unless --include-suppressed."""
    st = _store(args)
    flat = st.events_flat()
    if not args.include_suppressed:
        flat = _without_suppressed(st, flat)
    if args.severity:
        sevs = [s.strip() for s in args.severity.split(",") if s.strip()]
        flat = flat.filter(F.col("severity").isin(sevs))
    source = args.source_arg or args.source_flag
    if source:
        ref_like = ":" in source or source.startswith(("+", "~")) or source.isdigit()
        serial = None
        if ref_like:
            try:
                serial = services.resolve_run_serial(st, source)
            except Exception:
                serial = None
        if serial is not None:
            flat = flat.filter(F.col("run_serial") == serial)
        else:
            flat = flat.filter(F.col("source_name") == source)
    flat = flat.orderBy(F.desc("run_serial"), F.asc("event_index")).limit(args.n)
    _emit_events(flat, args)
    return 0


def cmd_errors(args) -> int:
    """Alias for `events --severity error` (reference cmd_errors,
    management.py:919-926)."""
    args.severity = "error"
    return cmd_events(args)


def cmd_warnings(args) -> int:
    """Alias for `events --severity warning` (reference cmd_warnings,
    management.py:929-936)."""
    args.severity = "warning"
    return cmd_events(args)


def cmd_running(args) -> int:
    st = _store(args)
    _emit(views.running(st.attempts(), st.outcomes()), args)
    return 0


def cmd_report(args) -> int:
    """Composed build report (reference report_cmd.py:361): markdown (or
    JSON with --json) over run metadata + by-file/top-error aggregations
    + optional baseline new/fixed comparison. `--summary` keeps the old
    per-tool summary table."""
    st = _store(args)
    if getattr(args, "summary", False):
        _emit(views.summary(st.events_flat(), latest_only=args.latest), args)
        return 0
    baseline = getattr(args, "baseline", None)
    if isinstance(baseline, str):
        # run id or branch name (reference report_cmd --baseline)
        baseline = (
            int(baseline) if baseline.isdigit()
            else services.resolve_baseline(st, branch=baseline)
        )
        if baseline is None:
            print(f"blq-spark report: no baseline run for {args.baseline!r}",
                  file=sys.stderr)
            return 2
    data = services.report_data(
        st,
        run_serial=getattr(args, "run", None),
        baseline_serial=baseline,
    )
    if getattr(args, "json", False):
        import json as _json

        text = _json.dumps(output.scrub_nulls(data), default=str, indent=2)
    else:
        text = output.render_report_markdown(data, include_warnings=args.warnings)
    dest = getattr(args, "output", None)
    if dest:
        with open(dest, "w") as fh:
            fh.write(text + "\n")
        print(f"wrote report to {dest}")
    else:
        print(text)
    return 0


def _parsed_events_df(spark, events: list[dict]):
    return logparse.events_df(spark, events)


def cmd_query(args) -> int:
    st = _store(args)
    if args.file:
        with open(args.file) as fh:
            events = logparse.parse_content(fh.read(), args.parse_format or "auto")
        if not events:
            print("(no results)")
            return 0
        for ev in events:
            ev["source_id"] = args.file
        base = _parsed_events_df(st.spark, events)
    else:
        base = st.events_flat()
    q = LogQuery(base)
    if args.filter:
        q = q.filter_dsl(args.filter, case_insensitive=args.ignore_case, invert=args.invert)
    if args.order:
        q = q.order_by(*args.order, desc=args.desc)
    if args.select:
        q = q.select(*args.select)
    q = q.limit(args.limit)
    _emit(q.fetchall(), args)
    return 0


def cmd_filter(args) -> int:
    """`blq filter [EXPR|FILE]... [-v] [-i] [-c]`: grep-like filtering
    with the mini-DSL (reference cli.py:944-961 — positional args mix
    filter expressions and log files; existing paths are files, the
    rest are expressions)."""
    files = [a for a in args.args if os.path.isfile(a)]
    exprs = [a for a in args.args if a not in files]
    st = _store(args)
    if files:
        events: list = []
        for f in files:
            with open(f) as fh:
                parsed = logparse.parse_content(fh.read(), args.parse_format or "auto")
            for ev in parsed:
                ev["source_id"] = f
                events.append(ev)
        if not events:
            print("(no results)" if not args.count else "0")
            return 0
        base = _parsed_events_df(st.spark, events)
    else:
        base = st.events_flat()
    q = LogQuery(base)
    if exprs:
        q = q.filter_dsl(exprs, case_insensitive=args.ignore_case, invert=args.invert)
    if args.count:
        print(q.count())
        return 0
    q = q.limit(args.limit)
    _emit(q.fetchall(), args)
    return 0


_LIMIT_RE = re.compile(r"\blimit\s+\d+", re.IGNORECASE)


def cmd_sql(args) -> int:
    from blq_cli_spark.plans.sql_macros import expand_macros

    st = _store(args)
    st.register_views()
    try:
        sql = expand_macros(args.query, st)
    except ValueError as e:
        print(f"blq-spark sql: {e}", file=sys.stderr)
        return 2
    if not _LIMIT_RE.search(sql):
        # LIMIT injection guard (reference serve.py:773-776)
        sql = f"SELECT * FROM ({sql}) LIMIT {args.limit}"
    df = st.spark.sql(sql)
    if getattr(args, "explain", False):
        # plan inspection without execution: the tuning loop's first stop
        # (PushedFilters / ReadSchema / broadcast vs shuffle / codegen)
        df.explain("formatted")
        return 0
    _emit(df, args)
    return 0


def cmd_import(args) -> int:
    st = _store(args)
    with open(args.file) as fh:
        content = fh.read()
    events = logparse.parse_content(content, args.parse_format)
    run = st.append_run(
        {
            "cmd": f"import {args.file}",
            "source_name": args.source or os.path.basename(args.file),
            "source_type": "import",
            "exit_code": 1 if any(e["severity"] == "error" for e in events) else 0,
            "tag": args.tag,
        },
        events,
        output=content,
    )
    print(f"imported run {run['run_serial']} ({len(events)} events)")
    return 0


def cmd_capture(args) -> int:
    content = sys.stdin.read()
    st = _store(args)
    events = logparse.parse_content(content, args.parse_format)
    run = st.append_run(
        {
            "cmd": "capture",
            "source_name": args.source or "capture",
            "source_type": "capture",
            "exit_code": 1 if any(e["severity"] == "error" for e in events) else 0,
            "tag": args.tag,
        },
        events,
        output=content,
    )
    print(f"captured run {run['run_serial']} ({len(events)} events)")
    return 0


def cmd_register(args) -> int:
    from blq_cli_spark.sources import store as store_mod

    argv = args.cmd[1:] if args.cmd and args.cmd[0] == "--" else args.cmd
    if not argv:
        print("blq-spark register: no command given", file=sys.stderr)
        return 2
    store_mod.register_command(
        _store(args), args.name, argv, fmt=args.parse_format, tag=args.tag
    )
    print(f"registered {args.name}")
    return 0


def cmd_suppress(args) -> int:
    from blq_cli_spark.sources import store as store_mod

    store_mod.suppress_fingerprint(_store(args), args.fingerprint, command=args.command)
    print(f"suppressed {args.fingerprint}")
    return 0


def cmd_inspect(args) -> int:
    """`blq inspect REF`: event detail + enrichments (reference
    cmd_inspect, commands/events.py:223-373) — log context always,
    source context with --source, git blame/history with --git,
    fingerprint history with --fingerprint, everything with --full;
    -F limits output to named fields. Run refs fall back to the plain
    row listing."""
    from blq_cli_spark import services

    st = _store(args)
    try:
        parsed = services.parse_ref(args.ref)
    except ValueError as e:
        print(f"blq-spark: {e}", file=sys.stderr)
        return 2
    if not parsed.is_event():
        rows = services.resolve_ref(st, args.ref).collect()
        if not rows:
            print(f"blq-spark: no match for ref {args.ref!r}", file=sys.stderr)
            return 1
        _emit(rows, args)
        return 0
    full = args.full
    try:
        result = services.inspect_event(
            st,
            args.ref,
            lines=args.lines,
            source_root=args.source_root,
            include_source=full or args.source,
            include_git=full or args.git,
            include_fingerprint=full or args.fingerprint,
        )
    except ValueError as e:
        print(f"blq-spark: {e}", file=sys.stderr)
        return 1
    if args.field:
        result = {k: result.get(k) for k in args.field}
    if args.json or args.field:
        import json as _json

        print(_json.dumps(output.scrub_nulls(result), default=str, indent=2))
        return 0
    print(f"Event: {args.ref}")
    for label, key in (("Severity", "severity"), ("File", "loc"),
                       ("Tool", "tool_name"), ("Code", "code"),
                       ("Fingerprint", "short_fp"), ("Message", "message")):
        if result.get(key):
            print(f"  {label}: {result[key]}")
    for title, key in (("Log Context", "log_context"),
                       ("Source Context", "source_context")):
        ctx = result.get(key)
        if ctx:
            print(f"\n== {title} ==")
            for r in ctx:
                marker = ">" if r["is_event"] else " "
                print(f"{marker} {r['line_number']:>4} | {r['line']}")
    gc = result.get("git_context")
    if gc:
        print("\n== Git Context ==")
        if "blame" in gc:
            b = gc["blame"]
            print(f"  last touched by {b.get('author')} in {b.get('commit')}"
                  f" at {b.get('modified')}")
        for c in gc.get("recent_commits", []):
            print(f"  {c['hash']} {c['author']}: {c['message']}")
    fh = result.get("fingerprint_history")
    if fh:
        print("\n== Fingerprint History ==")
        for r in fh:
            print(f"  run {r['run_serial']} ({r['source_name']}):"
                  f" {r['n_occurrences']} occurrence(s)")
    return 0


def cmd_output(args) -> int:
    """`blq output REF`: raw stored output with head/tail/line-spec/grep
    selection (reference commands/management.py:557-650; selection
    operators serve.py:1305-1444). REF is a run ref (`build:5`, `5`,
    `~1`) or a bare source name (most recent run of that source);
    defaults to the most recent run."""
    st = _store(args)
    try:
        serial = services.resolve_run_serial(st, args.ref or "~1")
        df = services.get_output(
            st,
            serial,
            stream=args.stream,
            grep=args.grep,
            ctx=args.context,
            head=args.head,
            tail=args.tail,
            lines=args.lines,
            ignore_case=not args.no_ignore_case,
        )
    except ValueError as e:
        print(f"blq-spark: {e}", file=sys.stderr)
        return 1
    rows = df.orderBy("line_number").collect()
    numbered = bool(args.grep or args.lines)
    for r in rows:
        if args.grep:
            sep = ":" if r["is_match"] else "-"
            print(f"{r['line_number']}{sep}{r['line']}")
        elif numbered:
            print(f"{r['line_number']}: {r['line']}")
        else:
            print(r["line"])
    return 0


def _print_event_detail(e, ref: str) -> None:
    """Pretty single-event display (reference commands/events.py:124-154)."""
    print(f"Event: {ref}")
    print(f"  Source: {e['source_name'] or '?'}")
    print(f"  Severity: {e['severity'] or '?'}")
    if e["loc"]:
        print(f"  File: {e['loc']}")
    if e["tool_name"]:
        tool = e["tool_name"] + (f" ({e['category']})" if e["category"] else "")
        print(f"  Tool: {tool}")
    code = e["code"] or e["rule"]
    if code:
        print(f"  Code: {code}")
    print(f"  Message: {e['message'] or '?'}")
    if e["fingerprint"]:
        print(f"  Fingerprint: {e['short_fp']}")
    if e["log_line_start"] is not None:
        print(f"  Log lines: {e['log_line_start']}-{e['log_line_end'] or e['log_line_start']}")


def cmd_event(args) -> int:
    """`blq event REF`: event detail by reference — run ref shows the
    run's events, event ref shows one event (reference
    commands/events.py:78-157)."""
    st = _store(args)
    try:
        parsed = services.parse_ref(args.ref)
    except ValueError as e:
        print(f"blq-spark: {e}", file=sys.stderr)
        return 2
    if parsed.relative is not None:
        print("blq-spark: relative refs not supported here; use an absolute ref",
              file=sys.stderr)
        return 2
    if not parsed.is_event():
        flat = st.events_flat().filter(F.col("run_serial") == parsed.serial)
        if parsed.tag is not None:
            flat = flat.filter(F.col("tag") == parsed.tag)
        if flat.limit(1).count() == 0:
            print(f"blq-spark: no events for run {args.ref}", file=sys.stderr)
            return 1
        _emit_events(flat.orderBy("event_index"), args)
        return 0
    rows = services.resolve_ref(st, args.ref).collect()
    if not rows:
        print(f"blq-spark: event {args.ref} not found", file=sys.stderr)
        return 1
    if args.json:
        import json as _json

        print(_json.dumps(output.scrub_nulls(rows[0].asDict()), default=str, indent=2))
    else:
        _print_event_detail(rows[0], args.ref)
    return 0


def cmd_context(args) -> int:
    """`blq context REF [-n N]`: N raw-output lines around an event's
    log lines, event lines marked with `>` (reference
    commands/events.py:160-218)."""
    st = _store(args)
    try:
        parsed = services.parse_ref(args.ref)
    except ValueError as e:
        print(f"blq-spark: {e}", file=sys.stderr)
        return 2
    if not parsed.is_event():
        print("blq-spark: context requires an event ref (e.g., 5:3)", file=sys.stderr)
        return 2
    rows = services.resolve_ref(st, args.ref).collect()
    if not rows:
        print(f"blq-spark: event {args.ref} not found", file=sys.stderr)
        return 1
    e = rows[0]
    start = e["log_line_start"]
    if start is None:
        print(f"Event {args.ref} (structured format, no log line context)")
        print(f"  Source: {e['source_name']}")
        print(f"  Message: {e['message']}")
        return 0
    end = e["log_line_end"] or start
    lo = max(1, start - args.lines)
    try:
        df = services.get_output(st, parsed.serial, lines=f"{lo}-{end + args.lines}")
    except ValueError as exc:
        print(f"blq-spark: {exc}", file=sys.stderr)
        return 1
    print(f"Context for {args.ref} (lines {start}-{end}):")
    for r in df.orderBy("line_number").collect():
        marker = ">" if start <= r["line_number"] <= end else " "
        print(f"{marker} {r['line_number']:>4} | {r['line']}")
    return 0


def cmd_shell(args) -> int:
    """Interactive Spark SQL shell over the registered store views
    (reference `blq shell` spawns the duckdb CLI, query_cmd.py:309-329;
    here the session itself is the shell). Reads `;`-terminated or
    single-line SQL from stdin; `.tables` lists views, `.quit` exits."""
    st = _store(args)
    st.register_views()
    interactive = sys.stdin.isatty()
    if interactive:
        print("blq-spark shell — Spark SQL over events_flat/runs_loaded/"
              "events/runs/attempts/outcomes/outputs. .quit to exit.")
    while True:
        if interactive:
            print("blq> ", end="", flush=True)
        line = sys.stdin.readline()
        if not line:
            break
        sql = line.strip().rstrip(";")
        if not sql:
            continue
        if sql in (".quit", ".exit", "quit", "exit"):
            break
        if sql == ".tables":
            print("events_flat runs_loaded events runs attempts outcomes outputs sessions")
            continue
        try:
            from blq_cli_spark.plans.sql_macros import expand_macros

            df = st.spark.sql(expand_macros(sql, st))
            if not df.columns:  # DDL-ish statement
                continue
            print(format_output(df.limit(100), args.format))
        except Exception as exc:  # noqa: BLE001 — REPL must not die
            msg = str(exc).splitlines()[0] if str(exc) else type(exc).__name__
            print(f"error: {msg}", file=sys.stderr)
    return 0


def cmd_ci(args) -> int:
    from blq_cli_spark import services

    st = _store(args)
    action = getattr(args, "action", None)
    if action == "generate":
        return _ci_generate(st, args)
    if action == "comment":
        return _ci_comment(st, args)
    baseline = services.resolve_baseline(
        st, run_serial=args.baseline, branch=args.branch, commit=args.commit
    )
    if baseline is None:
        print("blq-spark ci: no baseline run found", file=sys.stderr)
        return 2
    candidate = args.candidate
    if candidate is None:
        row = st.runs().agg(F.max("run_serial").alias("m")).collect()[0]
        candidate = int(row["m"])
    res = services.ci_check(st, baseline, candidate)
    import json as _json

    print(_json.dumps(res))
    return 0 if res["passed"] else 1


def _ci_generate(st, args) -> int:
    """`ci generate`: standalone CI runner scripts + workflow/hook
    templates from registered commands (reference ci_cmd.py:703-780)."""
    from blq_cli_spark import hooks
    from blq_cli_spark.sources import store as store_mod

    cmds = store_mod.registered_commands(st)
    names = args.names or sorted(cmds)
    missing = [n for n in names if n not in cmds]
    if missing:
        print(f"blq-spark ci generate: unknown commands: {', '.join(missing)}", file=sys.stderr)
        return 2
    if not names:
        print("blq-spark ci generate: no registered commands", file=sys.stderr)
        return 2
    outdir = args.output
    if args.dry_run:
        for n in names:
            print(f"# --- {n}.sh ---")
            print(hooks.generate_ci_script(n, cmds[n]))
        print("# --- workflow.yml ---")
        print(hooks.generate_github_workflow({n: cmds[n] for n in names}))
        return 0
    os.makedirs(outdir, exist_ok=True)
    for n in names:
        path = os.path.join(outdir, f"{n}.sh")
        with open(path, "w") as fh:
            fh.write(hooks.generate_ci_script(n, cmds[n]))
        os.chmod(path, 0o755)
    picked = {n: cmds[n] for n in names}
    # one file per CI system (reference templates/: github/gitlab/drone)
    generators = {
        "workflow.yml": hooks.generate_github_workflow,
        ".gitlab-ci.blq.yml": hooks.generate_gitlab_ci,
        "drone.yml": hooks.generate_drone_pipeline,
    }
    for fname, gen in generators.items():
        with open(os.path.join(outdir, fname), "w") as fh:
            fh.write(gen(picked))
    hook = os.path.join(outdir, "pre-commit")
    with open(hook, "w") as fh:
        fh.write(hooks.generate_git_hook(names))
    os.chmod(hook, 0o755)
    print(
        f"generated {len(names)} script(s) + workflow.yml + .gitlab-ci.blq.yml"
        f" + drone.yml + pre-commit in {outdir}/"
    )
    return 0


def _ci_comment(st, args) -> int:
    """`ci comment`: PR-comment markdown from the fingerprint diff
    (reference ci_cmd.py:394+)."""
    from blq_cli_spark import hooks, services

    baseline = services.resolve_baseline(
        st, run_serial=args.baseline, branch=args.branch, commit=args.commit
    )
    if baseline is None:
        print("blq-spark ci comment: no baseline run found", file=sys.stderr)
        return 2
    candidate = args.candidate
    if candidate is None:
        row = st.runs().agg(F.max("run_serial").alias("m")).collect()[0]
        candidate = int(row["m"])
    body = hooks.format_pr_comment(st, baseline, candidate)
    if getattr(args, "post", False):
        from blq_cli_spark import github

        try:
            print(github.post_pr_comment(body, update=not getattr(args, "no_update", False)))
        except (ValueError, github.GitHubError) as exc:
            print(f"blq-spark ci comment: {exc}", file=sys.stderr)
            return 1
        return 0
    print(body)
    return 0


def cmd_run(args) -> int:
    from blq_cli_spark.sources.execution import run_command

    cmd = args.cmd[1:] if args.cmd and args.cmd[0] == "--" else args.cmd
    if not cmd:
        print("blq-spark run: no command given", file=sys.stderr)
        return 2
    sb = getattr(args, "sandbox", None)
    if isinstance(sb, str) and sb.strip().startswith("{"):
        import json as _json

        args.sandbox = _json.loads(sb)
    st = _store(args)
    from blq_cli_spark.sources.locks import LockHeldError

    # resolve --executor / --extension through the plugin registry
    # (entry-point groups included via discover) BEFORE spawning
    # anything, so an unknown name fails fast with the known names
    executor = None
    extensions = None
    exec_name = getattr(args, "executor", None)
    ext_names = getattr(args, "extensions", None)
    if exec_name or ext_names:
        from blq_cli_spark import ext as _ext

        _ext.discover()
        try:
            if exec_name:
                executor = _ext.get_executor(exec_name)
            if ext_names:
                extensions = [_ext.get_extension(n) for n in ext_names]
        except KeyError as exc:
            print(f"blq-spark run: {exc.args[0]}", file=sys.stderr)
            return 2

    try:
        run = run_command(
            st,
            cmd,
            source_name=args.source,
            fmt=args.parse_format or "auto",
            tag=args.tag,
            timeout=args.timeout,
            lock_name=getattr(args, "lock_name", None),
            wait_lock=getattr(args, "wait_lock", None),
            sandbox=getattr(args, "sandbox", None),
            executor=executor,
            extensions=extensions,
        )
    except LockHeldError as exc:
        print(f"blq-spark run: {exc}", file=sys.stderr)
        return 3
    ev = st.events().filter(F.col("invocation_id") == run["id"])
    n = ev.count()
    n_err = ev.filter(F.col("severity") == "error").count()
    n_warn = ev.filter(F.col("severity") == "warning").count()
    if getattr(args, "json", False):
        # structured result (reference exec --json, cli.py:381): run
        # metadata + counts + the first errors/warnings
        import json as _json

        limit = getattr(args, "error_limit", 20)
        events = [
            {k: r[k] for k in ("event_index", "severity", "ref_file",
                               "ref_line", "message", "tool_name")}
            for r in ev.filter(F.col("severity").isin("error", "warning"))
            .orderBy("event_index").limit(limit).collect()
        ]
        print(_json.dumps(output.scrub_nulls({
            "run_serial": run["run_serial"],
            "exit_code": run["exit_code"],
            "duration_ms": run["duration_ms"],
            "n_events": n, "n_errors": n_err, "n_warnings": n_warn,
            "events": events,
        }), default=str, indent=2))
    elif getattr(args, "summary", False):
        # reference exec --summary: one brief line
        print(f"✓ exit={run['exit_code']} {n_err} error(s), {n_warn} warning(s)"
              if run["exit_code"] == 0 else
              f"✗ exit={run['exit_code']} {n_err} error(s), {n_warn} warning(s)")
    else:
        print(
            f"run {run['run_serial']} exit={run['exit_code']} "
            f"{run['duration_ms']}ms ({n} events)"
        )
    from blq_cli_spark.sources import store as store_mod

    pruned = store_mod.maybe_auto_prune(st)
    if pruned:
        print(f"auto-prune: removed {pruned} old run(s)", file=sys.stderr)
    return 0 if run["exit_code"] == 0 else int(run["exit_code"] or 1)


def cmd_diff(args) -> int:
    flat = _store(args).events_flat()
    if args.fingerprints:
        _emit(views.diff_fingerprints(flat, args.run1, args.run2), args)
    else:
        _emit(views.diff_by_group(flat, args.run1, args.run2), args)
    return 0


def cmd_clean(args) -> int:
    """`blq clean data|prune|orphans|blobs|compact|full`: retention and
    maintenance over the library primitives (reference clean_cmd.py via
    cli.py:872-922 semantics). Destructive modes require --confirm;
    `prune --dry-run` reports what would go without touching anything."""
    import shutil

    from blq_cli_spark.sources import store as store_mod

    mode = getattr(args, "clean_command", None)
    if mode in (None, "blobs"):
        # back-compat: bare `clean` (old `--blobs` flag) cleans blobs
        n = _store(args).cleanup_orphaned_blobs()
        print(f"removed {n} orphaned blobs")
        return 0
    st = _store(args)
    if mode == "data":
        if not args.confirm:
            print("clean data is destructive; pass --confirm", file=sys.stderr)
            return 2
        n = st.runs().count()
        for name in ("runs", "events", "outputs", "attempts", "outcomes", "blobs"):
            shutil.rmtree(os.path.join(st.root, name), ignore_errors=True)
        print(f"cleared {n} run(s); config and commands kept")
        return 0
    if mode == "schema":
        # recreate table layout only: tables go, blobs + config stay
        # (reference clean schema, cli.py:915-919)
        if not args.confirm:
            print("clean schema is destructive; pass --confirm", file=sys.stderr)
            return 2
        for name in ("runs", "events", "outputs", "attempts", "outcomes"):
            shutil.rmtree(os.path.join(st.root, name), ignore_errors=True)
        print("recreated empty table layout (blobs and config kept)")
        return 0
    if mode == "prune":
        days = args.days
        if days is None and args.max_runs is None and args.max_size is None:
            days = store_mod.config_get(st, "clean.max_age_days")
        if days is None and args.max_runs is None and args.max_size is None:
            print("nothing to do: pass --days/--max-runs/--max-size "
                  "(or config set clean.max_age_days)", file=sys.stderr)
            return 2
        if args.dry_run:
            n = _prune_dry_run(st, days, args.max_runs, args.max_size)
            print(f"dry run: would remove {n} run(s)")
            return 0
        if not args.confirm:
            print("clean prune is destructive; pass --confirm (or --dry-run)",
                  file=sys.stderr)
            return 2
        n = 0
        if days is not None or args.max_runs is not None:
            n += st.prune_runs(max_age_days=days, max_runs_per_source=args.max_runs)
        if args.max_size is not None:
            n += st.prune_by_size(args.max_size * 1024 * 1024)
        st.cleanup_orphaned_blobs()
        print(f"removed {n} run(s)")
        return 0
    if mode == "orphans":
        if args.dry_run:
            stale = views.running(st.attempts(), st.outcomes()).collect()
            import datetime as _dt

            now = _dt.datetime.now()
            n = sum(
                1 for r in stale
                if (now - r["started_at"]).total_seconds() > args.min_age
            )
            print(f"dry run: would orphan {n} stale attempt(s)")
            return 0
        n = st.sweep_orphans(max_age_seconds=args.min_age)
        from blq_cli_spark.sources import locks as locks_mod

        freed = locks_mod.cleanup_stale_locks(os.path.join(st.root, "locks"))
        print(f"orphaned {n} stale attempt(s); reclaimed {len(freed)} stale lock(s)")
        return 0
    if mode == "locks":
        from blq_cli_spark.sources import locks as locks_mod

        freed = locks_mod.cleanup_stale_locks(os.path.join(st.root, "locks"))
        print(f"reclaimed {len(freed)} stale lock(s)"
              + (f": {', '.join(freed)}" if freed else ""))
        return 0
    if mode == "compact":
        n = st.compact(args.table)
        print(f"compacted {args.table}: removed {n} file(s)")
        return 0
    if mode == "full":
        if not args.confirm:
            print("clean full is destructive; pass --confirm", file=sys.stderr)
            return 2
        shutil.rmtree(st.root, ignore_errors=True)
        os.makedirs(st.root, exist_ok=True)
        print(f"reset {st.root}")
        return 0
    print(f"unknown clean mode {mode!r}", file=sys.stderr)
    return 2


def cmd_prune(args) -> int:
    """Top-level `blq prune --older-than N [--dry-run]` (reference
    cmd_prune, commands/management.py:1008-1031): drop whole `date=`
    partition directories older than the cutoff — metadata-only, zero
    rows read. The richer policy engine lives under `clean prune`."""
    import datetime as _dt

    st = _store_shim(args)
    cutoff = (_dt.datetime.now() - _dt.timedelta(days=args.older_than)).date()
    removed = 0
    for name in ("runs", "events", "outputs", "attempts", "outcomes"):
        path = os.path.join(st.root, name)
        if not os.path.isdir(path):
            continue
        for part in sorted(os.listdir(path)):
            if part.startswith("date=") and part[5:] < cutoff.isoformat():
                if args.dry_run:
                    print(f"would remove: {name}/{part}")
                else:
                    import shutil

                    shutil.rmtree(os.path.join(path, part), ignore_errors=True)
                    print(f"removed: {name}/{part}")
                removed += 1
    if removed == 0:
        print(f"no data older than {args.older_than} days")
    elif args.dry_run:
        print(f"dry run: would remove {removed} date partition(s)")
    return 0


def _prune_dry_run(st, days, max_runs, max_size_mb) -> int:
    """Count runs the prune policies would remove, without removing."""
    import datetime as _dt

    from pyspark.sql import Window

    doomed = None
    runs = st.runs()
    if days is not None:
        cutoff = (_dt.datetime.now() - _dt.timedelta(days=days)).date()
        d = runs.filter(F.col("date") < F.lit(cutoff.isoformat())).select("id")
        doomed = d if doomed is None else doomed.union(d)
    if max_runs is not None:
        w = Window.partitionBy(
            F.coalesce("source_name", F.lit("__none__"))
        ).orderBy(F.desc("timestamp"))
        d = (
            runs.withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") > max_runs)
            .select("id")
        )
        doomed = d if doomed is None else doomed.union(d)
    if max_size_mb is not None:
        w = Window.orderBy(F.desc("timestamp")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        sized = (
            runs.join(
                st.outputs().groupBy("invocation_id").agg(
                    F.sum("byte_length").alias("bytes")
                ),
                F.col("id") == F.col("invocation_id"),
                "left",
            )
            .select("id", "timestamp", F.coalesce("bytes", F.lit(0)).alias("bytes"))
            .withColumn("cum_bytes", F.sum("bytes").over(w))
        )
        d = sized.filter(
            F.col("cum_bytes") > max_size_mb * 1024 * 1024
        ).select("id")
        doomed = d if doomed is None else doomed.union(d)
    return doomed.distinct().count() if doomed is not None else 0


def cmd_watch(args) -> int:
    """ST3 watch mode: re-run the command when watched files change
    (reference watch_cmd.py:95-302 debounce + queue-next state machine)."""
    from blq_cli_spark.sources.execution import run_command
    from blq_cli_spark.sources.watch import WatchController

    st = _store(args)
    cmd = args.cmd[1:] if args.cmd and args.cmd[0] == "--" else args.cmd

    def runner():
        run = run_command(st, cmd, source_name=args.source, fmt=args.parse_format or "auto")
        print(f"run {run['run_serial']} exit={run['exit_code']}")

    ctl = WatchController(
        args.path,
        runner,
        include=args.include or None,
        exclude=args.exclude or None,
        debounce_s=args.debounce,
    )
    if args.initial:
        runner()
    try:
        ctl.loop(interval_s=args.interval, max_runs=args.max_runs)
    except KeyboardInterrupt:
        pass
    return 0


def cmd_sync(args) -> int:
    """S13 sync: export this store's events under the global
    hostname=/namespace=/project= tree (reference sync_cmd.py:37-167;
    written as real partition dirs so `read_global` prunes all three
    levels). `--status` summarizes what's already synced at the
    destination; `--dry-run` prints the plan."""
    import socket

    st = _store(args)
    hostname = args.hostname or socket.gethostname()
    if args.status:
        try:
            g = LogStore.read_global(st.spark, args.destination)
        except Exception:
            print(f"nothing synced at {args.destination}")
            return 0
        summary = (
            g.groupBy("hostname", "namespace", "project")
            .agg(
                F.countDistinct("run_serial").alias("n_runs"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .orderBy("hostname", "namespace", "project")
        )
        _emit(summary, args)
        return 0
    if args.dry_run:
        print("Dry run - would sync:")
        print(f"  Source: {st.root}")
        print(
            f"  Target: {args.destination}/hostname={hostname}/"
            f"namespace={args.namespace}/project={args.project}"
        )
        return 0
    dest = st.sync_to(
        args.destination,
        hostname=hostname,
        namespace=args.namespace,
        project=args.project,
    )
    print(f"synced to {dest}")
    return 0


def cmd_migrate(args) -> int:
    """S14: re-ingest a hive-partitioned export into this store
    (reference blq migrate, src/blq/commands/migrate.py:30-140)."""
    from blq_cli_spark.sources.execution import migrate_from_export

    n = migrate_from_export(_store(args), args.export_root)
    print(f"migrated {n} run(s)")
    return 0


def cmd_annotate(args) -> int:
    """Run the ext annotator pipeline; `--list` shows registered names."""
    from blq_cli_spark import ext

    ext.discover()
    if args.list:
        for n in ext.annotators():
            print(n)
        return 0
    n = ext.run_annotators(_store(args), args.names or None)
    print(f"wrote {n} annotations")
    return 0


def cmd_hooks(args) -> int:
    """`blq hooks install|uninstall|status`: manage the git pre-commit
    hook built from registered commands (reference hooks_cmd.py)."""
    from blq_cli_spark import hooks

    if args.action == "remove":
        args.action = "uninstall"
    # agent target needs no store / SparkSession (reference hooks_cmd
    # claude-code path: scripts + settings.json merge only)
    if args.names and args.names[0] == "claude-code":
        if args.action == "install":
            written = hooks.install_agent_hooks(
                args.repo, record=args.record, force=args.force
            )
            for w in written:
                print(f"installed .claude/hooks/{w}")
            print("registered in .claude/settings.json")
            return 0
        if args.action == "uninstall":
            n = hooks.uninstall_agent_hooks(args.repo)
            print(f"removed {n} agent hook(s)")
            return 0
    st = _store(args)
    try:
        if args.action == "install":
            path = hooks.install_git_hook(
                st, args.repo, args.names, hook_name=args.hook, force=args.force
            )
            print(f"installed {args.hook} hook at {path}")
            return 0
        if args.action == "uninstall":
            if hooks.uninstall_git_hook(args.repo, hook_name=args.hook):
                print(f"removed {args.hook} hook")
            else:
                print(f"no {args.hook} hook installed")
            return 0
        status = hooks.hooks_status(st, args.repo)
        for name, state in status["hooks"].items():
            print(f"{name}: {state}")
        cmds = ", ".join(status["registered_commands"]) or "(none)"
        print(f"registered commands: {cmds}")
        return 0
    except ValueError as e:
        print(f"blq-spark hooks: {e}", file=sys.stderr)
        return 2


# Build files -> (command name, argv, format) used by `init --detect`
# (reference init_cmd.py detect_commands: simple build-file scan mode).
_DETECT_RULES = (
    ("pyproject.toml", "test", ["python", "-m", "pytest"], "pytest"),
    ("setup.py", "test", ["python", "-m", "pytest"], "pytest"),
    ("Makefile", "build", ["make"], "auto"),
    ("package.json", "test", ["npm", "test"], "auto"),
    ("Cargo.toml", "test", ["cargo", "test"], "cargo_test"),
    ("go.mod", "test", ["go", "test", "./..."], "go_test"),
    ("CMakeLists.txt", "build", ["cmake", "--build", "build"], "cmake"),
)


def cmd_init(args) -> int:
    """`blq init`: create the store directory + config scaffold so every
    later command works without flags (reference init_cmd, cli.py:229-267).
    `--detect` registers build/test commands found from build files in the
    project root; `--force` re-inits over an existing store."""
    from blq_cli_spark.sources import store as store_mod

    root = args.store
    existed = os.path.isfile(os.path.join(root, "config.json"))
    if existed and not args.force:
        print(f"{root} already initialized (use --force to re-init)")
        return 0
    os.makedirs(root, exist_ok=True)
    st = _store(args)
    cfg = store_mod._load_config(st)
    cfg.setdefault("commands", {})
    cfg.setdefault("suppressions", {})
    cfg.setdefault("user", {})
    cfg["project"] = args.project or os.path.basename(os.getcwd()) or "project"
    cfg["namespace"] = args.namespace or "default"
    store_mod._save_config(st, cfg)
    detected = []
    if args.detect:
        for fname, cmd_name, argv, fmt in _DETECT_RULES:
            if os.path.isfile(os.path.join(os.getcwd(), fname)):
                if cmd_name in store_mod.registered_commands(st):
                    continue
                store_mod.register_command(st, cmd_name, argv, fmt=fmt)
                detected.append((cmd_name, argv))
    print(f"initialized {root} (project={cfg['project']}, namespace={cfg['namespace']})")
    for name, argv in detected:
        print(f"  registered {name}: {' '.join(argv)}")
    if not detected and args.detect:
        print("  no build files detected")
    return 0


def cmd_anomalies(args) -> int:
    """`blq-spark anomalies`: days whose error/warning volume deviates
    from the trailing baseline (services.anomalous_days) — the
    burst-detection view of the store."""
    st = _store(args)
    df = services.anomalous_days(
        st, severity=args.severity, window_days=args.window,
        threshold=args.threshold,
    )
    _emit(df, args)
    return 0


def cmd_corpus(args) -> int:
    """`blq-spark corpus ACTION --input X.parquet`: the training-data
    curation operators over an arbitrary parquet corpus — the same
    library surface the gates exercise (operators/{text,quality,corpus,
    dedup}.py), reachable from the shell. With --output the full result
    is written as parquet (distributed write, nothing driver-side);
    without it a bounded sample prints in the session's output format."""
    import json as _json

    from blq_cli_spark.operators import corpus as corpus_ops
    from blq_cli_spark.session import get_spark

    if getattr(args, "signatures", None) and args.dedup_method != "minhash":
        print("corpus dedup: --signatures requires --method minhash",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="blq-spark-corpus")
    if args.corpus_action == "shard-manifest":
        # operates on a write_training_shards DIRECTORY, not a corpus
        out = corpus_ops.shard_manifest(
            spark, args.input, id_col=args.id_col, text_col=args.text_col
        )
        if args.output:
            _write_corpus_result(spark, out, args)
        else:
            _emit(out.limit(args.limit), args)
        return 0
    if args.corpus_action == "stream":
        # continuous curation ingest (streaming/curation.py): watch a
        # directory, run the stateless pipeline stages per micro-batch,
        # append survivors + per-batch audit rows effectively-once
        from blq_cli_spark.streaming import curation

        if not (args.output and args.stats_path and args.checkpoint):
            print("corpus stream: --output, --stats and --checkpoint "
                  "DIRs required", file=sys.stderr)
            return 2
        stages = [{"op": "extract"}, {"op": "normalize"}, {"op": "gopher"}]
        if args.stages:
            with open(args.stages) as fh:
                stages = _json.load(fh)
            if not isinstance(stages, list):
                print("corpus stream: --stages must be a JSON list",
                      file=sys.stderr)
                return 2
            for st_spec in stages:
                # same path resolution as the batch pipeline verb:
                # classify stages name their weights json by path
                if isinstance(st_spec.get("weights"), str):
                    with open(st_spec["weights"]) as fh:
                        st_spec["weights"] = _json.load(fh)
        # schema comes from a one-shot batch read of the files already
        # present (driver-side, bounded: schema inference only)
        fmt = args.input_format if args.input_format != "auto" else "jsonl"
        static = (spark.read.json(args.input) if fmt == "jsonl"
                  else spark.read.parquet(args.input))
        reader = spark.readStream.schema(static.schema)
        stream = (reader.json(args.input) if fmt == "jsonl"
                  else reader.parquet(args.input))
        try:
            q = curation.stream_curation_ingest(
                stream, args.output, args.stats_path, args.checkpoint,
                stages, text_col=args.text_col, id_col=args.id_col,
            )
        except ValueError as e:
            print(f"corpus stream: {e}", file=sys.stderr)
            return 2
        if args.follow:
            q.awaitTermination()
        else:
            q.processAllAvailable()
            q.stop()
        for r in (spark.read.parquet(args.stats_path)
                  .orderBy("batch_id").collect()):
            print(f"# batch {r['batch_id']}: {r['n_in']} in, "
                  f"{r['n_kept']} kept", file=sys.stderr)
        return 0
    docs = _read_corpus_input(spark, args)

    def _parse_rates(raw: str | None) -> dict | None:
        """JSON object of FINITE numbers, or None if invalid/missing
        (json.loads accepts Infinity/NaN, which int() downstream does
        not — reject them here so bad input is an exit-2 usage error,
        not a traceback)."""
        import math

        try:
            parsed = _json.loads(raw or "")
        except ValueError:
            return None
        if not isinstance(parsed, dict) or not all(
            isinstance(v, (int, float))
            and not isinstance(v, bool)
            and math.isfinite(v)
            for v in parsed.values()
        ):
            return None
        return parsed

    rates = None
    if args.corpus_action == "upsample":
        rates = _parse_rates(args.rates)
        if rates is None:
            print("corpus upsample: --rates must be a JSON object of "
                  "finite numbers", file=sys.stderr)
            return 2
    if args.corpus_action == "mix":
        if args.temperature is not None:
            if args.rates:
                print("corpus mix: use --rates or --temperature, not both",
                      file=sys.stderr)
                return 2
            rates = corpus_ops.temperature_rates(
                docs, alpha=args.temperature, source_col=args.source_col
            )
            print("# temperature rates: "
                  + ", ".join(f"{s}={r:.3f}" for s, r in sorted(rates.items())),
                  file=sys.stderr)
        else:
            rates = _parse_rates(args.rates)
            if rates is None:
                print("corpus mix: --rates must be a JSON object of "
                      "finite numbers", file=sys.stderr)
                return 2
    target = None
    if args.corpus_action == "select":
        if bool(args.target) == bool(args.target_source):
            print("corpus select: exactly one of --target PARQUET or "
                  "--target-source SRC[,SRC...] required", file=sys.stderr)
            return 2
        if args.target:
            target = spark.read.parquet(args.target)
        else:
            srcs = [s for s in args.target_source.split(",") if s]
            target = docs.filter(F.col(args.source_col).isin(srcs))
    bench = None
    if args.corpus_action == "decontaminate":
        if not args.benchmark:
            print("corpus decontaminate: --benchmark PARQUET required", file=sys.stderr)
            return 2
        paths = [p for p in args.benchmark.split(",") if p]
        if len(paths) > 1:
            # benchmark-suite form: per-benchmark attribution in one pass
            from blq_cli_spark.operators import quality as quality_ops

            benches = {
                os.path.splitext(os.path.basename(p.rstrip("/")))[0]:
                    spark.read.parquet(p)
                for p in paths
            }
            out = quality_ops.decontaminate_multi(
                docs, benches, text_col=args.text_col,
                id_col=args.id_col, n=args.ngram,
            )
            if args.output:
                _write_corpus_result(spark, out, args)
            else:
                _emit(out.limit(args.limit), args)
            return 0
        bench = spark.read.parquet(args.benchmark)
    if args.corpus_action == "train-classifier":
        from blq_cli_spark.operators import classifier as classifier_ops

        if not args.positives or not args.weights_out:
            print(
                "corpus train-classifier: --positives PARQUET and "
                "--weights-out JSON required",
                file=sys.stderr,
            )
            return 2
        pos = spark.read.parquet(args.positives)
        w = classifier_ops.train_text_classifier(
            pos, docs, id_col=args.id_col, text_col=args.text_col
        )
        with open(args.weights_out, "w") as fh:
            _json.dump(w, fh)
        print(f"trained {len(w) - 1}-dim classifier -> {args.weights_out}")
        return 0
    if args.corpus_action == "pipeline":
        if not args.stages:
            print("corpus pipeline: --stages JSON file required", file=sys.stderr)
            return 2
        with open(args.stages) as fh:
            stages = _json.load(fh)
        if not isinstance(stages, list):
            print("corpus pipeline: --stages must be a JSON list", file=sys.stderr)
            return 2
        # resolve path-valued stage params to loaded objects
        for st_spec in stages:
            if isinstance(st_spec.get("benchmark"), str):
                st_spec["benchmark"] = spark.read.parquet(st_spec["benchmark"])
            if isinstance(st_spec.get("target"), str):
                st_spec["target"] = spark.read.parquet(st_spec["target"])
            if isinstance(st_spec.get("weights"), str):
                with open(st_spec["weights"]) as fh:
                    st_spec["weights"] = _json.load(fh)
        if args.no_audit:
            out, audit = corpus_ops.pipeline(
                docs, stages, text_col=args.text_col, id_col=args.id_col
            ), []
        else:
            out, audit = corpus_ops.pipeline(
                docs, stages, text_col=args.text_col, id_col=args.id_col,
                audit=True,
            )
        for a in audit:
            print(f"# stage {a['stage']} {a['op']}: {a['rows']} rows", file=sys.stderr)
        if args.output:
            _write_corpus_result(spark, out, args)
        else:
            _emit(out.limit(args.limit), args)
        return 0
    weights = None
    if args.corpus_action == "classify":
        if not args.weights:
            print("corpus classify: --weights JSON required", file=sys.stderr)
            return 2
        with open(args.weights) as fh:
            weights = _json.load(fh)
    thresholds = None
    if args.corpus_action == "sweep" and args.thresholds:
        try:
            thresholds = _json.loads(args.thresholds)
        except ValueError:
            thresholds = None
        if not isinstance(thresholds, list) or not thresholds or not all(
            isinstance(t, (int, float)) and not isinstance(t, bool)
            for t in thresholds
        ):
            print("corpus sweep: --thresholds must be a JSON list of numbers",
                  file=sys.stderr)
            return 2
    if args.corpus_action in ("encode", "bpe-fertility") and not args.merges:
        print(f"corpus {args.corpus_action}: --merges JSON required "
              "(write one with train-tokenizer)", file=sys.stderr)
        return 2
    if args.shards and args.corpus_action != "shuffle":
        print("corpus: --shards only applies to the shuffle action",
              file=sys.stderr)
        return 2
    if args.corpus_action == "shuffle" and args.shards:
        # materialize the FULL corpus as ordered shards (the data-loader
        # layout) instead of emitting the rank table
        if not args.output:
            print("corpus shuffle: --shards requires --output DIR",
                  file=sys.stderr)
            return 2
        corpus_ops.write_training_shards(
            docs, args.output, shards=args.shards, id_col=args.id_col,
            seed=args.seed,
        )
        n = spark.read.parquet(args.output).count()
        print(f"wrote {n} rows to {args.output} ({args.shards} ordered shards)")
        return 0
    out = corpus_ops.run_action(
        docs,
        args.corpus_action,
        text_col=args.text_col,
        id_col=args.id_col,
        source_col=args.source_col,
        rates=rates,
        default_rate=args.default_rate,
        benchmark=bench,
        ngram=args.ngram,
        method=args.dedup_method,
        signatures=getattr(args, "signatures", None),
        span_tokens=args.span_tokens,
        min_docs=args.min_docs,
        weights=weights,
        capacity_tokens=args.capacity_tokens,
        target=target,
        n_select=args.n_select,
        seed=args.seed,
        chunk_size=args.chunk_size,
        chunk_overlap=args.chunk_overlap,
        history=args.history,
        n_per_source=args.n_per_source,
        n_buckets=args.n_buckets,
        lang_col=args.lang_col,
        tokens_per_source=args.tokens_per_source,
        merges=args.merges,
        model=getattr(args, "model", None),
        n_merges=args.n_merges,
        top_k_words=args.top_k_words,
        with_tokens=args.with_tokens,
        score_col=args.score_col,
        label_col=args.label_col,
        thresholds=thresholds,
        norm_form=args.norm_form,
    )
    if args.output:
        _write_corpus_result(spark, out, args)
    else:
        _emit(out.limit(args.limit), args)
    return 0


def cmd_embeddings(args) -> int:
    """`blq-spark embeddings ACTION --input X.parquet`: the similarity /
    ANN operator surface over an arbitrary embedding parquet
    (operators/similarity.py). `topk` defaults to brute-force exact;
    --method lsh|ivf picks the bucketed approximate paths; `quantize`
    writes the int8 form of the corpus."""
    from blq_cli_spark.operators import similarity
    from blq_cli_spark.session import get_spark

    spark = get_spark(app_name="blq-spark-embeddings")
    emb = _read_corpus_input(spark, args)
    ic, vc = args.id_col, args.vec_col
    act = args.emb_action
    if act == "quantize":
        out = similarity.quantize_embeddings(emb, vec_col=vc, id_col=ic)
    elif act == "normalize":
        out = similarity.l2_normalize(emb, id_col=ic, vec_col=vc)
    elif act == "eval":
        queries = (
            spark.read.parquet(args.queries)
            if args.queries
            else emb.orderBy(ic).limit(args.n_queries)
        )
        method = args.method if args.method != "exact" else "ivf"
        out = similarity.ann_recall(
            emb, queries, method=method, k=args.k, id_col=ic, vec_col=vc
        )
    elif act == "topk":
        queries = (
            spark.read.parquet(args.queries)
            if args.queries
            else emb.orderBy(ic).limit(args.n_queries)
        )
        if args.method == "lsh":
            out = similarity.lsh_bucket_topk(emb, queries, k=args.k, id_col=ic, vec_col=vc)
        elif args.method == "ivf":
            out = similarity.ivf_topk(emb, queries, k=args.k, id_col=ic, vec_col=vc)
        elif args.method == "quantized":
            out = similarity.cosine_topk_quantized(
                similarity.quantize_embeddings(emb, vec_col=vc, id_col=ic),
                queries, k=args.k, id_col=ic, vec_col=vc,
            )
        else:
            out = similarity.cosine_topk(emb, queries, k=args.k, id_col=ic, vec_col=vc)
    elif act == "neardup":
        out = similarity.neardup_pairs(emb, threshold=args.threshold, id_col=ic, vec_col=vc)
    elif act == "semantic-dedup":
        sd_method = {"lsh": "bucketed", "ivf": "kmeans"}.get(args.method, "exact")
        out = similarity.semantic_dedup(
            emb, threshold=args.threshold, id_col=ic, vec_col=vc,
            method=sd_method,
        )
    elif act == "cluster":
        from blq_cli_spark.operators import clustering

        cents = clustering.kmeans_fit(
            emb, k=args.k_cells, iters=args.iters, id_col=ic, vec_col=vc
        )
        out = clustering.kmeans_assign(emb, cents, id_col=ic, vec_col=vc)
    elif act == "report":
        out = similarity.embeddings_report(emb, id_col=ic, vec_col=vc)
    elif act == "pca":
        import json as _json

        if args.model:
            # train-once-apply-many: project with an existing model
            with open(args.model) as fh:
                model = _json.load(fh)
        else:
            model = similarity.pca_fit(
                emb, n_components=args.n_components, vec_col=vc
            )
        if args.model_out:
            with open(args.model_out, "w") as fh:
                _json.dump(model, fh)
            print(f"# wrote {len(model['components'])}-component model -> "
                  f"{args.model_out}", file=sys.stderr)
        out = similarity.pca_project(
            emb, model, id_col=ic, vec_col=vc, whiten=args.whiten
        )
    elif act == "decontaminate":
        if not args.benchmark:
            print("embeddings decontaminate: --benchmark PARQUET required",
                  file=sys.stderr)
            return 2
        bench = spark.read.parquet(args.benchmark)
        out = similarity.semantic_decontaminate(
            emb, bench, threshold=args.threshold, id_col=ic, vec_col=vc
        )
    elif act in ("index-build", "index-append", "index-search",
                 "index-info", "index-compact", "index-retrain"):
        from blq_cli_spark.operators import ann_index

        if not args.index:
            print(f"embeddings {act}: --index DIR required", file=sys.stderr)
            return 2
        if act == "index-retrain":
            meta = ann_index.ivf_retrain_index(spark, args.index, iters=args.iters)
            rec = meta.get("ann_recall", {}).get("recall")
            print(
                f"# retrained {meta['k_cells']}-cell index -> {args.index}"
                + (f" (recall {rec})" if rec is not None else ""),
                file=sys.stderr,
            )
            return 0
        if act == "index-info":
            rec = ann_index.load_meta(args.index).get("retrain_recommended")
            if rec and rec.get("flag"):
                print(
                    f"# retrain recommended: cell {rec['cell']} drift_ratio "
                    f"{rec['max_drift_ratio']:.3f} > {rec['threshold']} "
                    "(run embeddings index-retrain)",
                    file=sys.stderr,
                )
            _emit(
                ann_index.ivf_index_info(
                    spark, args.index, drift=getattr(args, "drift", False)
                ),
                args,
            )
            return 0
        if act == "index-compact":
            res = ann_index.ivf_compact_index(spark, args.index)
            print(f"# compacted index ({res['rows']} vectors) "
                  f"-> {args.index}", file=sys.stderr)
            return 0
        if act == "index-build":
            meta = ann_index.ivf_build_index(
                emb, args.index, k_cells=args.k_cells, iters=args.iters,
                id_col=ic, vec_col=vc,
            )
            print(f"# built {meta['k_cells']}-cell index ({meta['dim']}d) "
                  f"-> {args.index}", file=sys.stderr)
            return 0
        if act == "index-append":
            meta = ann_index.ivf_append_index(emb, args.index, id_col=ic, vec_col=vc)
            rec = meta.get("retrain_recommended") or {}
            note = (
                f" (retrain recommended: max drift_ratio "
                f"{rec['max_drift_ratio']:.3f})" if rec.get("flag") else ""
            )
            print(f"# appended batch into {args.index}{note}", file=sys.stderr)
            return 0
        queries = (
            spark.read.parquet(args.queries)
            if args.queries
            else emb.orderBy(ic).limit(args.n_queries)
        )
        out = ann_index.ivf_search_index(
            spark, args.index, queries, k=args.k, nprobe=args.nprobe,
            id_col=ic, vec_col=vc,
        )
    else:  # pragma: no cover - argparse restricts choices
        return 2
    if args.output:
        _write_corpus_result(spark, out, args)
    else:
        _emit(out.limit(args.limit), args)
    return 0


def cmd_multimodal(args) -> int:
    """`blq-spark multimodal ACTION --input X.parquet`: the binary-column
    operator surface (multimodal/binary.py) — ingest metadata, perceptual
    image/audio dedup, decode/resize/frame-sample — over a parquet of
    (id, content binary) rows."""
    from blq_cli_spark.multimodal import binary as mmb
    from blq_cli_spark.session import get_spark

    spark = get_spark(app_name="blq-spark-multimodal")
    df = _read_corpus_input(spark, args)
    ic, bc = args.id_col, args.bin_col
    act = args.mm_action
    if act == "metadata":
        out = mmb.extract_metadata(df, id_col=ic, bin_col=bc)
    elif act == "image-hash":
        out = mmb.image_perceptual_hash(df, id_col=ic, bin_col=bc, method=args.method)
    elif act == "image-dedup":
        out = mmb.image_dedup_pairs(
            df, id_col=ic, bin_col=bc, method=args.method,
            max_hamming=args.max_hamming,
        )
    elif act == "audio-fingerprint":
        out = mmb.audio_fingerprint(df, id_col=ic, bin_col=bc)
    elif act == "audio-dedup":
        out = mmb.audio_dedup_pairs(
            df, id_col=ic, bin_col=bc, max_hamming=args.max_hamming
        )
    elif act == "video-hashes":
        out = mmb.video_frame_hashes(df, id_col=ic, bin_col=bc)
    elif act == "video-dedup":
        out = mmb.video_dedup_pairs(
            df, id_col=ic, bin_col=bc, max_hamming=args.max_hamming,
            min_frame_matches=args.min_frame_matches,
        )
    elif act == "decode":
        out = mmb.decode_image(df, id_col=ic, bin_col=bc, fake=args.fake)
    elif act == "resize":
        out = mmb.resize_image(
            df, args.width, args.height, id_col=ic, bin_col=bc, fake=args.fake
        )
    elif act == "frames":
        out = mmb.sample_video_frames(
            df, every_ms=args.every_ms, id_col=ic, bin_col=bc, fake=args.fake
        )
    elif act == "audio-features":
        out = mmb.audio_features(df, window_ms=args.window_ms, id_col=ic, bin_col=bc)
    else:  # pragma: no cover - argparse restricts choices
        return 2
    if args.output:
        _write_corpus_result(spark, out, args)
    else:
        _emit(out.limit(args.limit), args)
    return 0


def _read_corpus_input(spark, args):
    """Input reader for the corpus/embeddings verbs: parquet by default,
    JSONL when --input-format jsonl or the path looks like JSON lines —
    the interchange format corpora actually arrive in."""
    fmt = getattr(args, "input_format", "auto") or "auto"
    path = args.input
    if fmt == "auto":
        fmt = "jsonl" if path.rstrip("/").endswith((".jsonl", ".json", ".ndjson")) else "parquet"
    return spark.read.json(path) if fmt == "jsonl" else spark.read.parquet(path)


def _write_corpus_result(spark, out, args) -> None:
    """Distributed result write for the corpus/embeddings verbs: parquet
    by default, or sharded JSONL (the training-data interchange format)
    with --output-format jsonl. --cluster-by COL range-clusters the
    files so later scans filtering on COL skip whole files via parquet
    min/max stats (corpus.write_clustered)."""
    fmt = getattr(args, "output_format", "parquet") or "parquet"
    nparts = getattr(args, "output_partitions", None)
    cluster_by = getattr(args, "cluster_by", None)
    if cluster_by:
        from blq_cli_spark.operators import corpus as corpus_ops

        if fmt != "parquet":
            print("--cluster-by implies parquet output", file=sys.stderr)
        corpus_ops.write_clustered(out, args.output, cluster_by,
                                   n_files=nparts)
        n = spark.read.parquet(args.output).count()
        print(f"wrote {n} rows to {args.output} "
              f"(parquet, range-clustered by {cluster_by})")
        return
    if nparts:
        # control output file count/size: one shuffle, then each task
        # writes one file (at 100 TB pick ~target_bytes/file_size tasks)
        out = out.repartition(nparts)
    if fmt == "jsonl":
        out.write.mode("overwrite").json(args.output)
        n = spark.read.json(args.output).count()
    else:
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    print(f"wrote {n} rows to {args.output} ({fmt})")


def cmd_formats(args) -> int:
    """`blq formats`: list every parse format grouped by category
    (reference cmd_formats, commands/management.py:1033-1113 — there a
    duck_hunt TVF; here the native FORMATS registry)."""
    catalog = logparse.format_catalog()
    print(f"Available log formats ({len(catalog)} total):\n")
    current = None
    for name, cat, desc in catalog:
        if cat != current:
            current = cat
            print(f"  {cat}:")
        print(f"    {name:24} {desc}")
    return 0


def _run_info_dict(st, serial: int):
    rows = st.runs_loaded().filter(F.col("run_serial") == serial).collect()
    return rows[0].asDict() if rows else None


def _print_run_info(info: dict) -> None:
    """Run detail display matching the reference's info fields
    (commands/management.py cmd_info, cli.py:445-455)."""
    print(f"Run: {info.get('ref') or info['run_serial']}")
    print(f"  Source: {info.get('source_name') or '?'}")
    print(f"  Command: {info.get('cmd') or '?'}")
    print(f"  Status: {info.get('badge') or '?'}  exit={info.get('exit_code')}")
    print(f"  Started: {info.get('timestamp')}")
    if info.get("duration_ms") is not None:
        print(f"  Duration: {info['duration_ms']}ms")
    print(
        f"  Events: {info.get('n_events', 0)} "
        f"({info.get('n_errors', 0)} errors, {info.get('n_warnings', 0)} warnings)"
    )
    for key in ("cwd", "hostname", "git_branch", "git_commit", "tag"):
        if info.get(key):
            print(f"  {key.replace('_', ' ').title()}: {info[key]}")


def cmd_info(args) -> int:
    """`blq info [REF]`: one run's metadata + counts; optional head/tail
    of its stored output (reference cmd_info, cli.py:445-455)."""
    st = _store(args)
    try:
        serial = services.resolve_run_serial(st, args.ref or "~1")
    except ValueError as e:
        print(f"blq-spark: {e}", file=sys.stderr)
        return 1
    info = _run_info_dict(st, serial)
    if info is None:
        print(f"blq-spark: no run with serial {serial}", file=sys.stderr)
        return 1
    if args.json:
        import json as _json

        print(_json.dumps(output.scrub_nulls(info), default=str, indent=2))
    else:
        _print_run_info(info)
    if args.head or args.tail:
        df = services.get_output(st, serial, head=args.head, tail=args.tail)
        print()
        for r in df.orderBy("line_number").collect():
            print(r["line"])
    return 0


def cmd_last(args) -> int:
    """`blq last`: most recent run summary + its first N events
    (reference cmd_last, cli.py:457-471)."""
    st = _store(args)
    try:
        serial = services.resolve_run_serial(st, "~1")
    except ValueError:
        print("store has no runs", file=sys.stderr)
        return 1
    info = _run_info_dict(st, serial)
    ev = st.events_flat().filter(F.col("run_serial") == serial)
    if args.errors:
        ev = ev.filter(F.col("severity") == "error")
    elif args.warnings:
        ev = ev.filter(F.col("severity") == "warning")
    elif args.severity:
        ev = ev.filter(F.col("severity") == args.severity)
    ev = ev.orderBy("event_index").limit(args.limit)
    if args.json:
        import json as _json

        print(_json.dumps(
            output.scrub_nulls({
                "run": info,
                "events": [r.asDict() for r in ev.collect()],
            }),
            default=str, indent=2,
        ))
        return 0
    if not args.quiet and info:
        _print_run_info(info)
        print()
    _emit_events(ev, args)
    return 0


def cmd_config(args) -> int:
    """`blq config [get|set|unset]`: user configuration persisted in the
    store config JSON (reference config_cmd.py:255-330; dotted keys)."""
    from blq_cli_spark.sources import store as store_mod

    st = _store_shim(args)
    sub = getattr(args, "config_subcommand", None)
    if getattr(args, "path", False):
        print(store_mod._config_path(st))
        return 0
    if sub == "get":
        val = store_mod.config_get(st, args.key)
        import json as _json

        print(_json.dumps(val) if args.json else val)
        return 0
    if sub == "set":
        if args.key not in store_mod.USER_CONFIG_SCHEMA:
            known = ", ".join(sorted(store_mod.USER_CONFIG_SCHEMA))
            print(f"unknown config key {args.key!r} (known: {known})", file=sys.stderr)
            return 2
        store_mod.config_set(st, args.key, args.value)
        print(f"{args.key} = {store_mod.config_get(st, args.key)}")
        return 0
    if sub == "unset":
        if store_mod.config_unset(st, args.key):
            print(f"unset {args.key}")
        else:
            print(f"{args.key} was not set")
        return 0
    # default: show current values (explicit + defaults with --all)
    explicit = store_mod.user_config(st)
    if args.json:
        import json as _json

        shown = dict(store_mod.USER_CONFIG_SCHEMA) if args.all else {}
        shown.update(explicit)
        print(_json.dumps(shown, indent=2, sort_keys=True))
        return 0
    if not explicit and not args.all:
        print("All settings at defaults (use --all to list them).")
        return 0
    keys = sorted(set(store_mod.USER_CONFIG_SCHEMA) | set(explicit)) if args.all \
        else sorted(explicit)
    for k in keys:
        mark = "" if k in explicit else "  (default)"
        print(f"{k} = {store_mod.config_get(st, k)}{mark}")
    return 0


def cmd_record(args) -> int:
    """`blq record attempt|outcome`: passive invocation tracking for
    external orchestrators / editor hooks (reference record-invocation,
    cli.py:1254-1289, commands/record_cmd.py:74-260). `attempt` prints an
    attempt_id; `outcome` completes it, optionally parsing stdin (or
    --output FILE) into stored events."""
    import datetime as _dt
    import json as _json
    import socket

    st = _store(args)
    if args.record_command == "attempt":
        attempt = st.start_attempt(
            {
                "cmd": args.cmd,
                "cwd": args.cwd or os.getcwd(),
                "source_name": args.source or (args.cmd.split() or ["unknown"])[0],
                "source_type": "record",
                "hostname": socket.gethostname(),
                "pid": args.pid,
            }
        )
        if args.json:
            print(_json.dumps({"attempt_id": attempt["id"]}))
        else:
            print(attempt["id"])
        return 0
    if args.record_command == "outcome":
        started = None
        if args.attempt:
            rows = st.attempts().filter(F.col("id") == args.attempt).collect()
            if not rows:
                print(f"no attempt {args.attempt}", file=sys.stderr)
                return 1
            started = rows[0]["started_at"]
            attempt_id = args.attempt
            cmd_str = rows[0]["cmd"]
            source = rows[0]["source_name"]
        else:
            if not args.cmd:
                print("outcome needs --attempt or --command", file=sys.stderr)
                return 2
            attempt = st.start_attempt(
                {
                    "cmd": args.cmd,
                    "cwd": os.getcwd(),
                    "source_name": args.source or (args.cmd.split() or ["?"])[0],
                    "source_type": "record",
                    "hostname": socket.gethostname(),
                }
            )
            attempt_id = attempt["id"]
            started = attempt["started_at"]
            cmd_str = args.cmd
            source = attempt["source_name"]
        completed = _dt.datetime.now()
        duration = args.duration
        if duration is None and started is not None:
            duration = int((completed - started).total_seconds() * 1000)
        st.complete_attempt(
            attempt_id,
            {
                "completed_at": completed,
                "duration_ms": duration,
                "exit_code": args.exit,
                "timeout": False,
            },
        )
        run_serial = None
        if args.parse:
            if args.output_file:
                with open(args.output_file) as fh:
                    content = fh.read()
            else:
                content = sys.stdin.read()
            events = logparse.parse_content(content, args.parse_format or "auto")
            run = st.append_run(
                {
                    "id": attempt_id,
                    "timestamp": started or completed,
                    "duration_ms": duration,
                    "cwd": os.getcwd(),
                    "cmd": cmd_str,
                    "executable": (cmd_str.split() or ["?"])[0],
                    "exit_code": args.exit,
                    "hostname": socket.gethostname(),
                    "source_name": source,
                    "source_type": "record",
                    "tag": args.tag,
                },
                events=events,
                output=content,
            )
            run_serial = run["run_serial"]
        if args.json:
            out = {"attempt_id": attempt_id, "exit_code": args.exit}
            if run_serial is not None:
                out["run_serial"] = run_serial
            print(_json.dumps(out))
        elif run_serial is not None:
            print(f"run {run_serial}")
        return 0
    print("usage: record attempt|outcome", file=sys.stderr)
    return 2


def _normalize_cmd(cmd: str) -> str:
    return " ".join(cmd.split())


def cmd_commands(args) -> int:
    """`blq commands [suggest [CMD] | config NAME ...]`: list registered
    commands; `suggest CMD` matches a raw command string against the
    registry (reference registry.py:299-334, used by editor hooks —
    silent exit 0 on no match); bare `suggest` scans run history for
    frequent raw commands not yet registered; `config NAME` manages the
    command's per-command suppression list, resolving event refs to
    their fingerprints (reference cmd_commands_config,
    management_cmd.py:17-110)."""
    from blq_cli_spark.sources import store as store_mod

    st = _store(args)
    action = getattr(args, "commands_action", None)
    if action == "config":
        if args.name not in store_mod.registered_commands(st):
            print(f"command {args.name!r} is not registered", file=sys.stderr)
            return 2
        if args.clear_suppress:
            cfg = store_mod._load_config(st)
            n = len(cfg.get("suppressions", {}).pop(args.name, []))
            store_mod._save_config(st, cfg)
            print(f"cleared {n} suppressed fingerprint(s) from {args.name}")
            return 0
        fps = list(args.suppress_fp)
        for ref in args.suppress_event:
            rows = services.resolve_ref(st, ref).collect()
            if not rows or not rows[0]["fingerprint"]:
                print(f"no fingerprint for event ref {ref!r}", file=sys.stderr)
                return 1
            fps.append(rows[0]["fingerprint"])
        for fp in fps:
            store_mod.suppress_fingerprint(st, fp, command=args.name)
            print(f"suppressed {fp} for {args.name}")
        if not fps:  # no mutation flags -> show the current list
            current = store_mod.suppressed_fingerprints(st, command=args.name)
            for fp in current:
                print(fp)
            if not current:
                print("(no suppressions)")
        return 0
    if action != "suggest":
        for name, spec in sorted(store_mod.registered_commands(st).items()):
            print(f"{name}: {' '.join(spec['argv'])}" + (f"  [{spec['fmt']}]" if spec.get("fmt") else ""))
        return 0
    registry = store_mod.registered_commands(st)
    if args.match:
        wanted = _normalize_cmd(args.match)
        for name, spec in registry.items():
            if _normalize_cmd(" ".join(spec["argv"])) == wanted:
                if args.json:
                    import json as _json

                    print(_json.dumps({"name": name, "match": "exact"}))
                else:
                    print(f"{name}  (blq-spark run {name})")
                return 0
        return 0  # no match -> silent success, like the reference
    registered_cmds = {
        _normalize_cmd(" ".join(s["argv"])) for s in registry.values()
    }
    freq = (
        st.runs()
        .filter(F.col("cmd").isNotNull())
        .groupBy("cmd")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
        .limit(20)
        .collect()
    )
    shown = 0
    for r in freq:
        if _normalize_cmd(r["cmd"]) in registered_cmds or r["n"] < args.min_count:
            continue
        name = (r["cmd"].split() or ["cmd"])[0].rsplit("/", 1)[-1]
        print(f"{r['n']:4d}x  {r['cmd']}   -> blq-spark register {name} -- {r['cmd']}")
        shown += 1
    if not shown:
        print("(no unregistered frequent commands)")
    return 0


_COMPLETION_BASH = """\
# bash completion for blq-spark
_blq_spark() {
    local cur="${COMP_WORDS[COMP_CWORD]}"
    local cmds="%(cmds)s"
    if [ "$COMP_CWORD" -eq 1 ]; then
        COMPREPLY=( $(compgen -W "$cmds" -- "$cur") )
    fi
}
complete -F _blq_spark blq-spark
"""

_COMPLETION_ZSH = """\
#compdef blq-spark
_blq_spark() {
    local -a cmds
    cmds=(%(cmds)s)
    _arguments '1:command:(${cmds[@]})'
}
_blq_spark "$@"
"""

_COMPLETION_FISH = """\
# fish completion for blq-spark
complete -c blq-spark -f
for cmd in %(cmds)s
    complete -c blq-spark -n "__fish_use_subcommand" -a $cmd
end
"""


def cmd_completions(args) -> int:
    """`blq completions bash|zsh|fish` (reference cmd_completions,
    commands/management.py:1117-1131): emit a completion script listing
    the live subcommand set (introspected, never stale)."""
    cmds = " ".join(sorted(_subcommand_names()))
    tpl = {
        "bash": _COMPLETION_BASH,
        "zsh": _COMPLETION_ZSH,
        "fish": _COMPLETION_FISH,
    }[args.shell]
    print(tpl % {"cmds": cmds})
    return 0


def _subcommand_names() -> list[str]:
    p = build_parser()
    for action in p._actions:
        if isinstance(action, argparse._SubParsersAction):
            return list(action.choices)
    return []


def cmd_sandbox(args) -> int:
    """`blq sandbox list|inspect|set|unset|suggest|tighten|profile`:
    per-command sandbox spec management (reference sandbox_cmd.py:13-330
    + cmd_sandbox_profile:207). list / inspect / set / unset are config
    CRUD; suggest / tighten / profile aggregate observed run metrics
    with Spark (see blq_cli_spark/sandbox.py; profile is the portable
    degraded mode of the reference's strace profiler)."""
    import json as _json

    from blq_cli_spark import sandbox as sbx
    from blq_cli_spark.sources import store as store_mod

    action = getattr(args, "sandbox_command", None) or "list"
    if action == "list":
        st = _store_shim(args)
        rows = []
        for name, cmd in sorted(store_mod.registered_commands(st).items()):
            raw = cmd.get("sandbox")
            if raw is None:
                rows.append({"command": name, "sandbox": "none", "grade": "-",
                             "network": "-", "filesystem": "-"})
                continue
            spec = sbx.resolve(raw)
            rows.append({
                "command": name,
                "sandbox": spec.matching_preset() or "custom",
                "grade": spec.grade,
                "network": spec.network,
                "filesystem": spec.filesystem,
            })
        if args.json:
            print(_json.dumps(rows, indent=2))
        else:
            print(f"{'Command':<20} {'Sandbox':<14} {'Grade':<9} {'Network':<13} Filesystem")
            print("-" * 68)
            for r in rows:
                print(f"{r['command']:<20} {r['sandbox']:<14} {r['grade']:<9} "
                      f"{r['network']:<13} {r['filesystem']}")
        return 0
    if action in ("inspect", "set", "unset"):
        st = _store_shim(args)
        try:
            if action == "inspect":
                raw = sbx.get_spec(st, args.name)
                if raw is None:
                    print(f"command {args.name!r} has no sandbox spec")
                    return 0
                spec = sbx.resolve(raw)
                if args.json:
                    print(_json.dumps({
                        "command": args.name,
                        "spec": spec.to_dict(),
                        "grade": spec.grade,
                        "preset": spec.matching_preset(),
                    }, indent=2))
                else:
                    print(f"Command: {args.name}")
                    print(f"Sandbox: {spec.matching_preset() or 'custom'}")
                    print(f"Grade: {spec.grade}")
                    for k, v in spec.to_dict().items():
                        print(f"  {k}: {v}")
                return 0
            if action == "set":
                if args.preset:
                    value = args.preset
                else:
                    value = {}
                    for kv in args.dims:
                        k, _, v = kv.partition("=")
                        value[k] = int(v) if v.isdigit() else v
                sbx.set_spec(st, args.name, value)
                print(f"sandbox for {args.name}: {value}")
                return 0
            if sbx.unset_spec(st, args.name):
                print(f"removed sandbox spec from {args.name}")
            else:
                print(f"{args.name} had no sandbox spec")
            return 0
        except KeyError:
            print(f"unknown command {args.name!r} (register it first)", file=sys.stderr)
            return 2
        except ValueError as e:
            print(f"blq-spark sandbox: {e}", file=sys.stderr)
            return 2
    if action == "trace":
        from blq_cli_spark import sandbox_trace as strace_mod

        st = _store(args)
        if getattr(args, "file", None):
            with open(args.file, errors="replace") as fh:
                text = fh.read()
            df = st.spark.createDataFrame(
                [(args.name or args.file, text)],
                "source_id string, content string",
            )
            rows = strace_mod.strace_summary(
                strace_mod.parse_strace_df(df)
            ).collect()
            if not rows:
                print("no syscall evidence found in the trace")
                return 1
            summary = rows[0].asDict()
            spec = strace_mod.spec_from_summary(summary, workspace=os.getcwd())
        else:
            if not args.name:
                print("sandbox trace: NAME or --file required", file=sys.stderr)
                return 2
            reg = store_mod.registered_commands(st).get(args.name)
            if not reg:
                print(f"unknown command {args.name!r}", file=sys.stderr)
                return 2
            got = strace_mod.run_strace_profile(st.spark, reg["argv"])
            if got is None:
                print(
                    "strace not available on this host — falling back to "
                    "the rusage-based `sandbox profile` evidence",
                    file=sys.stderr,
                )
                return 1
            summary, spec = got
        out = {
            "summary": {k: v for k, v in summary.items()},
            "suggested_spec": spec.to_dict() or {"network": spec.network},
            "grade": spec.grade,
        }
        if args.json:
            print(_json.dumps(out, default=str))
        else:
            print(f"network: {spec.network}  filesystem: {spec.filesystem}  "
                  f"grade: {spec.grade}")
            print(f"endpoints: {summary.get('endpoints')}")
            print(f"write_dirs: {summary.get('write_dirs')}")
            print(f"spawns: {summary.get('n_spawns')}")
        return 0
    # suggest / tighten need the runs table -> real store
    st = _store(args)
    if args.name not in store_mod.registered_commands(st):
        print(f"unknown command {args.name!r} (register it first)", file=sys.stderr)
        return 2
    if action == "profile":
        # degraded mode of the reference's strace profiler: report the
        # rusage metrics recorded at execution time (see
        # sandbox.profile_runs); skip cleanly when there's no evidence
        rows = [r.asDict() for r in
                sbx.profile_runs(st.runs(), args.name, last_n=args.last_n).collect()]
        if not rows:
            print(f"no runs found for {args.name!r}; run it a few times first")
            return 1
        observed, suggested = sbx.suggest_spec(st.runs(), args.name)
        if args.json:
            print(_json.dumps(
                {"runs": rows, "observed": observed, "suggested": suggested},
                indent=2, default=str,
            ))
            return 0
        print(f"Profile of {args.name!r} ({observed['run_count']} run(s); "
              "recorded rusage — no strace in this runtime):")
        print(f"{'serial':>7} {'started':<20} {'exit':>5} {'wall_ms':>8} "
              f"{'mem_peak':>9} {'cpu_ms':>8}")
        for r in rows:
            cpu_ms = r["cpu_usec"] // 1000 if r["cpu_usec"] is not None else None
            print(f"{r['run_serial']:>7} {r['started']:<20} "
                  f"{str(r['exit_code']):>5} {str(r['duration_ms']):>8} "
                  f"{sbx.fmt_size(r['memory_peak_bytes']):>9} {str(cpu_ms):>8}")
        print("Suggested sandbox spec:")
        print(_json.dumps(suggested, indent=2))
        return 0
    if action == "suggest":
        got = sbx.suggest_spec(st.runs(), args.name)
        if got is None:
            print(f"no runs found for {args.name!r}; run it a few times first")
            return 1
        observed, suggested = got
        print(f"Based on {observed['run_count']} run(s) of {args.name!r}:")
        if observed["max_memory_bytes"] is not None:
            print(f"  peak memory {sbx.fmt_size(observed['max_memory_bytes'])}"
                  f" -> suggest {sbx.fmt_size(suggested['memory'])} (2x headroom)")
        if observed["max_duration_ms"] is not None:
            print(f"  max wall {observed['max_duration_ms']}ms"
                  f" -> suggest timeout {suggested['timeout']}s (3x headroom)")
        print(_json.dumps(suggested, indent=2))
        return 0
    if action == "tighten":
        if args.dry_run:
            got = sbx.suggest_spec(st.runs(), args.name)
            if got is None:
                print(f"no runs found for {args.name!r}")
                return 1
            print(f"dry run - would set: {_json.dumps(got[1])}")
            return 0
        written = sbx.tighten_spec(st, st.runs(), args.name)
        if written is None:
            print(f"no runs found for {args.name!r}")
            return 1
        print(f"tightened {args.name}: {_json.dumps(written)}")
        return 0
    print(f"unknown sandbox action {action!r}", file=sys.stderr)
    return 2


def cmd_mcp(args) -> int:
    """`blq mcp install|serve` (reference mcp_cmd.py:132-190): install
    merges a blq-spark server entry into ./.mcp.json; serve is an alias
    for the stdio tool server."""
    from blq_cli_spark import sandbox as sbx

    if args.mcp_command == "install":
        path = os.path.join(os.getcwd(), ".mcp.json")
        try:
            changed = sbx.ensure_mcp_config(path, args.store, force=args.force)
        except ValueError as e:
            print(f"blq-spark mcp: {e}", file=sys.stderr)
            return 2
        print(f"{'configured' if changed else 'already configured'} "
              f"{sbx.MCP_SERVER_KEY} MCP server in .mcp.json")
        return 0
    if args.mcp_command == "serve":
        from blq_cli_spark import serve

        return serve.serve_stdio(_store(args), once=args.once)
    print("usage: mcp install|serve", file=sys.stderr)
    return 2


def _store_shim(args):
    """A root-only stand-in for config commands: the JSON config helpers
    touch only `.root`, so no SparkSession spin-up is needed."""
    import types

    return types.SimpleNamespace(root=args.store)


def cmd_serve(args) -> int:
    """Agent tool surface over stdio (reference MCP server, serve.py):
    line-delimited JSON requests {"tool": ..., "args": {...}}."""
    from blq_cli_spark import serve

    import json as _json

    # ADVICE r4: listing is static metadata — don't pay SparkSession
    # startup for it. config_get only touches store.root, so the
    # root-only shim feeds the store-config disable source too.
    if args.list_prompts:
        print(_json.dumps(serve.list_prompts(), indent=2))
        return 0
    if args.list_tools:
        disabled = serve.resolve_disabled_tools(
            cli_disabled=getattr(args, "disabled_tools", None),
            safe_mode=getattr(args, "safe_mode", False),
            store=_store_shim(args),
        )
        print(_json.dumps(serve.list_tools(disabled), indent=2))
        return 0
    st = _store(args)
    disabled = serve.resolve_disabled_tools(
        cli_disabled=getattr(args, "disabled_tools", None),
        safe_mode=getattr(args, "safe_mode", False),
        store=st,
    )
    return serve.serve_stdio(st, once=args.once, disabled=disabled)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="blq-spark")
    p.add_argument("--store", default=os.environ.get("BLQ_SPARK_STORE", ".bird-spark"))
    p.add_argument("--format", default=None, choices=["table", "json", "csv", "markdown"])
    sub = p.add_subparsers(dest="command", required=True)

    sp = sub.add_parser("init")
    sp.add_argument("--project", "-p", default=None)
    sp.add_argument("--namespace", default=None)
    sp.add_argument("--detect", "-d", action="store_true",
                    help="register build/test commands from build files")
    sp.add_argument("--force", "-f", action="store_true")
    sp.set_defaults(fn=cmd_init)

    sub.add_parser("status").set_defaults(fn=cmd_status)

    sp = sub.add_parser("history", aliases=["h"])
    sp.add_argument("-n", type=int, default=None)
    sp.set_defaults(fn=cmd_history)

    def _events_args(sp):
        sp.add_argument("source_arg", nargs="?", default=None,
                        help="source name or run ref (build:5, ~1, 5)")
        sp.add_argument("-S", "--severity", default=None,
                        help="severity or comma list (error,warning,info)")
        sp.add_argument("-s", "--source", dest="source_flag", default=None)
        # default None -> main() resolves output.default_limit from config
        sp.add_argument("-n", type=int, default=None)
        sp.add_argument("--include-suppressed", action="store_true")

    sp = sub.add_parser("events", aliases=["e"])
    _events_args(sp)
    sp.set_defaults(fn=cmd_events)

    for name, fn in (("errors", cmd_errors), ("warnings", cmd_warnings)):
        sp = sub.add_parser(name)
        _events_args(sp)
        sp.set_defaults(fn=fn)

    sp = sub.add_parser("info", aliases=["I"])
    sp.add_argument("ref", nargs="?", default=None,
                    help="run ref (build:5, 5, ~1); default latest")
    sp.add_argument("--head", type=int, default=None)
    sp.add_argument("--tail", type=int, default=None)
    sp.add_argument("-j", "--json", action="store_true")
    sp.set_defaults(fn=cmd_info)

    sp = sub.add_parser("last")
    sp.add_argument("-n", "--limit", type=int, default=20)
    sp.add_argument("-e", "--errors", action="store_true")
    sp.add_argument("-w", "--warnings", action="store_true")
    sp.add_argument("-S", "--severity", default=None)
    sp.add_argument("-q", "--quiet", action="store_true")
    sp.add_argument("-j", "--json", action="store_true")
    sp.set_defaults(fn=cmd_last)

    sp = sub.add_parser("formats")
    sp.set_defaults(fn=cmd_formats)

    sp = sub.add_parser("completions")
    sp.add_argument("shell", choices=["bash", "zsh", "fish"])
    sp.set_defaults(fn=cmd_completions)

    sp = sub.add_parser("config")
    sp.add_argument("--path", action="store_true")
    sp.add_argument("--all", action="store_true")
    sp.add_argument("-j", "--json", action="store_true")
    csub = sp.add_subparsers(dest="config_subcommand")
    cg = csub.add_parser("get")
    cg.add_argument("key")
    cg.add_argument("-j", "--json", action="store_true")
    cs = csub.add_parser("set")
    cs.add_argument("key")
    cs.add_argument("value")
    cu = csub.add_parser("unset")
    cu.add_argument("key")
    sp.set_defaults(fn=cmd_config)

    sp = sub.add_parser("record", aliases=["record-invocation"])
    rsub = sp.add_subparsers(dest="record_command")
    ra = rsub.add_parser("attempt")
    ra.add_argument("--command", "-c", dest="cmd", required=True)
    ra.add_argument("--source", default=None)
    ra.add_argument("--cwd", default=None)
    ra.add_argument("--pid", type=int, default=None)
    ra.add_argument("-j", "--json", action="store_true")
    ro = rsub.add_parser("outcome")
    ro.add_argument("--attempt", "-a", default=None)
    ro.add_argument("--command", "-c", dest="cmd", default=None)
    ro.add_argument("--source", default=None)
    ro.add_argument("--exit", "-e", type=int, default=0)
    ro.add_argument("--duration", "-d", type=int, default=None)
    ro.add_argument("--parse", "-P", action="store_true")
    ro.add_argument("--parse-format", "-F", default=None)
    ro.add_argument("--tag", "-t", default=None)
    ro.add_argument("--output", "-o", dest="output_file", default=None,
                    help="read output from file instead of stdin")
    ro.add_argument("-j", "--json", action="store_true")
    sp.set_defaults(fn=cmd_record)

    sub.add_parser("running").set_defaults(fn=cmd_running)

    sp = sub.add_parser("report")
    sp.add_argument("--latest", action="store_true")
    sp.add_argument("--summary", action="store_true", help="per-tool summary table")
    sp.add_argument("--run", "-r", type=int, default=None)
    sp.add_argument("--baseline", "-b", default=None,
                    help="baseline run id or branch name")
    sp.add_argument("--warnings", "-w", action="store_true")
    sp.add_argument("--json", action="store_true")
    sp.add_argument("--output", "-o", default=None, help="write to file")
    sp.set_defaults(fn=cmd_report)

    sp = sub.add_parser("filter", aliases=["f"])
    sp.add_argument("args", nargs="*", help="filter expressions and/or log files")
    sp.add_argument("-v", "--invert", action="store_true")
    sp.add_argument("-i", "--ignore-case", action="store_true")
    sp.add_argument("-c", "--count", action="store_true")
    sp.add_argument("-n", "--limit", type=int, default=50)
    sp.add_argument("--parse-format", default=None)
    sp.set_defaults(fn=cmd_filter)

    sp = sub.add_parser("query", aliases=["q"])
    sp.add_argument("file", nargs="?")
    sp.add_argument("-f", "--filter", action="append", default=[])
    sp.add_argument("-i", "--ignore-case", action="store_true")
    sp.add_argument("-v", "--invert", action="store_true")
    sp.add_argument("--select", nargs="+")
    sp.add_argument("--order", nargs="+")
    sp.add_argument("--desc", action="store_true")
    sp.add_argument("--limit", type=int, default=50)
    sp.add_argument("--parse-format", default=None)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("sql")
    sp.add_argument("query")
    sp.add_argument("--limit", type=int, default=100)
    sp.add_argument("--explain", action="store_true",
                    help="print the physical plan instead of executing")
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser("import")
    sp.add_argument("file")
    sp.add_argument("--parse-format", default=None)
    sp.add_argument("--source")
    sp.add_argument("--tag")
    sp.set_defaults(fn=cmd_import)

    sp = sub.add_parser("capture")
    sp.add_argument("--parse-format", default=None)
    sp.add_argument("--source")
    sp.add_argument("--tag")
    sp.set_defaults(fn=cmd_capture)

    sp = sub.add_parser("register")
    sp.add_argument("name")
    sp.add_argument("cmd", nargs=argparse.REMAINDER)
    sp.add_argument("--parse-format")
    sp.add_argument("--tag")
    sp.set_defaults(fn=cmd_register)

    sp = sub.add_parser("commands", aliases=["C"])
    msub = sp.add_subparsers(dest="commands_action")
    ms = msub.add_parser("suggest")
    ms.add_argument("match", nargs="?", default=None,
                    help="command string to match; omit to scan history")
    ms.add_argument("--min-count", type=int, default=2, dest="min_count")
    ms.add_argument("-j", "--json", action="store_true")
    mc = msub.add_parser("config")
    mc.add_argument("name")
    mc.add_argument("--suppress-event", "-e", action="append", default=[],
                    dest="suppress_event", metavar="REF")
    mc.add_argument("--suppress-fp", "-F", action="append", default=[],
                    dest="suppress_fp", metavar="FP")
    mc.add_argument("--clear-suppress", action="store_true", dest="clear_suppress")
    sp.set_defaults(fn=cmd_commands)

    sp = sub.add_parser("suppress")
    sp.add_argument("fingerprint")
    sp.add_argument("--command", default="*")
    sp.set_defaults(fn=cmd_suppress)

    sp = sub.add_parser("inspect")
    sp.add_argument("ref", help="tag:serial[:event], serial[:event], or ~N")
    sp.add_argument("-n", "--lines", type=int, default=3,
                    help="context lines before/after")
    sp.add_argument("--source", action="store_true",
                    help="include source-file context")
    sp.add_argument("--git", action="store_true",
                    help="include git blame + recent commits")
    sp.add_argument("--fingerprint", action="store_true",
                    help="include fingerprint occurrence history")
    sp.add_argument("--full", action="store_true", help="all enrichments")
    sp.add_argument("--source-root", default=None, dest="source_root",
                    help="root for resolving ref_file (default: cwd)")
    sp.add_argument("-F", "--field", action="append", default=None,
                    help="output only these result fields (repeatable)")
    sp.add_argument("-j", "--json", action="store_true")
    sp.set_defaults(fn=cmd_inspect)

    sp = sub.add_parser("ci")
    sp.add_argument("action", nargs="?", choices=["check", "generate", "comment"],
                    default="check")
    sp.add_argument("names", nargs="*", help="registered commands (generate)")
    sp.add_argument("--baseline", type=int)
    sp.add_argument("--branch")
    sp.add_argument("--commit")
    sp.add_argument("--candidate", type=int)
    sp.add_argument("--output", default="ci")
    sp.add_argument("--dry-run", action="store_true", dest="dry_run")
    sp.add_argument("--post", action="store_true",
                    help="comment: post to the PR via the GitHub API")
    sp.add_argument("--no-update", action="store_true", dest="no_update",
                    help="comment --post: always create, never update")
    sp.set_defaults(fn=cmd_ci)

    sp = sub.add_parser("output", aliases=["o"])
    sp.add_argument("ref", nargs="?", default=None,
                    help="run ref (build:5, 5, ~1) or source name; default latest")
    sp.add_argument("-t", "--tail", type=int, default=None)
    sp.add_argument("-H", "--head", type=int, default=None)
    sp.add_argument("-l", "--lines", help="line spec, e.g. '100-200' or '42 +/-5'")
    sp.add_argument("-g", "--grep", help="regex over output lines")
    sp.add_argument("-C", "--context", type=int, default=0,
                    help="context lines around grep matches")
    sp.add_argument("--no-ignore-case", action="store_true", dest="no_ignore_case")
    sp.add_argument("--stream", default="combined")
    sp.set_defaults(fn=cmd_output)

    sp = sub.add_parser("event")
    sp.add_argument("ref", help="run or event ref (5, build:5, 5:3)")
    sp.add_argument("-j", "--json", action="store_true")
    sp.set_defaults(fn=cmd_event)

    sp = sub.add_parser("context", aliases=["c"])
    sp.add_argument("ref", help="event ref (e.g., 5:3)")
    sp.add_argument("-n", "--lines", type=int, default=3,
                    help="context lines before/after (default 3)")
    sp.set_defaults(fn=cmd_context)

    sp = sub.add_parser("shell")
    sp.set_defaults(fn=cmd_shell)

    def _lock_args(sp):
        # reference execution.py:324-350 lock flags
        sp.add_argument("--lock", dest="lock_name", default=None,
                        help="serialize concurrent runs holding this lock name")
        sp.add_argument("--wait-lock", dest="wait_lock", type=float, default=None,
                        help="wait up to N seconds for --lock instead of failing")
        # reference exec output modes (cli.py:381-386)
        sp.add_argument("-j", "--json", action="store_true",
                        help="structured JSON result with first errors/warnings")
        sp.add_argument("--summary", action="store_true",
                        help="one-line error/warning count summary")
        sp.add_argument("--error-limit", type=int, default=20, dest="error_limit")

    sp = sub.add_parser("run", aliases=["r"])
    sp.add_argument("cmd", nargs=argparse.REMAINDER)
    sp.add_argument("--parse-format", default=None)
    sp.add_argument("--source")
    sp.add_argument("--tag")
    sp.add_argument("--timeout", type=float)
    sp.add_argument(
        "--sandbox", default=None,
        help="enforce a sandbox preset (readonly/test/build/integration) "
        "or JSON spec on the child; registered commands with a stored "
        "spec enforce it automatically",
    )
    # round 9 (VERDICT r8 ask #6): select a registered Executor /
    # Extension pipeline by name (in-process registration or the
    # blq_spark.executors / blq_spark.extensions entry-point groups —
    # ext.discover() runs before resolution)
    sp.add_argument(
        "--executor", default=None,
        help="named Executor from the plugin registry (default: local "
        "subprocess executor)",
    )
    sp.add_argument(
        "--extension", action="append", default=None, dest="extensions",
        help="named Extension(s) to run in the prepare/collect/store "
        "pipeline (repeatable, reference pipeline order)",
    )
    _lock_args(sp)
    sp.set_defaults(fn=cmd_run)

    # ad-hoc execution, reference `exec`/`x` (cli.py:373-418) — same
    # capture path as run, with the reference's flag spellings
    sp = sub.add_parser("exec", aliases=["x"])
    sp.add_argument("cmd", nargs=argparse.REMAINDER)
    sp.add_argument("-f", "--format", dest="parse_format", default=None)
    sp.add_argument("-n", "--name", dest="source", default=None)
    sp.add_argument("--tag")
    sp.add_argument("-t", "--timeout", type=float)
    _lock_args(sp)
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("diff")
    sp.add_argument("run1", type=int)
    sp.add_argument("run2", type=int)
    sp.add_argument("--fingerprints", action="store_true")
    sp.set_defaults(fn=cmd_diff)

    sp = sub.add_parser("clean")
    sp.add_argument("--blobs", action="store_true")  # back-compat alias of `clean blobs`
    ksub = sp.add_subparsers(dest="clean_command")
    kd = ksub.add_parser("data", help="clear run data, keep config/commands")
    kd.add_argument("--confirm", "-y", action="store_true")
    kp = ksub.add_parser("prune", help="age/count/size retention")
    kp.add_argument("--days", "-d", type=int, default=None)
    kp.add_argument("--max-runs", type=int, default=None, dest="max_runs")
    kp.add_argument("--max-size", type=int, default=None, dest="max_size",
                    help="keep total stored output under N MB")
    kp.add_argument("--confirm", "-y", action="store_true")
    kp.add_argument("--dry-run", "-n", action="store_true", dest="dry_run")
    ko = ksub.add_parser("orphans", help="complete stale pending attempts")
    ko.add_argument("--min-age", type=int, default=60, dest="min_age")
    ko.add_argument("--dry-run", "-n", action="store_true", dest="dry_run")
    ksub.add_parser("blobs", help="remove unreferenced content-addressed blobs")
    ksub.add_parser("locks", help="reclaim locks held by dead processes")
    ks = ksub.add_parser("schema", help="recreate empty table layout, keep blobs/config")
    ks.add_argument("--confirm", "-y", action="store_true")
    kc = ksub.add_parser("compact", help="rewrite small files into right-sized ones")
    kc.add_argument("--table", default="events")
    kf = ksub.add_parser("full", help="delete and recreate the store")
    kf.add_argument("--confirm", "-y", action="store_true")
    sp.set_defaults(fn=cmd_clean)

    sp = sub.add_parser("prune")
    sp.add_argument("--older-than", "-d", type=int, default=30, dest="older_than")
    sp.add_argument("--dry-run", action="store_true", dest="dry_run")
    sp.set_defaults(fn=cmd_prune)

    sp = sub.add_parser("watch")
    sp.add_argument("--path", default=".")
    sp.add_argument("--source")
    sp.add_argument("--parse-format")
    sp.add_argument("--include", nargs="*")
    sp.add_argument("--exclude", nargs="*")
    sp.add_argument("--debounce", type=float, default=0.5)
    sp.add_argument("--interval", type=float, default=0.5)
    sp.add_argument("--max-runs", type=int, default=None, dest="max_runs")
    sp.add_argument("--initial", action="store_true")
    sp.add_argument("cmd", nargs=argparse.REMAINDER)
    sp.set_defaults(fn=cmd_watch)

    sp = sub.add_parser("sync")
    sp.add_argument("destination", help="global tree root to sync into")
    sp.add_argument("--hostname", default=None, help="default: this machine's hostname")
    sp.add_argument("--namespace", default="default")
    sp.add_argument("--project", default=os.path.basename(os.getcwd()) or "project")
    sp.add_argument("--status", action="store_true", help="summarize synced tree")
    sp.add_argument("--dry-run", action="store_true", dest="dry_run")
    sp.set_defaults(fn=cmd_sync)

    sp = sub.add_parser("migrate")
    sp.add_argument("export_root")
    sp.set_defaults(fn=cmd_migrate)

    sp = sub.add_parser("annotate")
    sp.add_argument("names", nargs="*")
    sp.add_argument("--list", action="store_true")
    sp.set_defaults(fn=cmd_annotate)

    sp = sub.add_parser("hooks")
    # "remove" is the reference's spelling (cmd_hooks_remove); keep both
    sp.add_argument("action",
                    choices=["install", "uninstall", "remove", "status"])
    sp.add_argument("names", nargs="*",
                    help="registered commands (git target), or the literal "
                         "target 'claude-code' for agent hooks")
    sp.add_argument("--repo", default=".", help="git repository root")
    sp.add_argument("--hook", default="pre-commit")
    sp.add_argument("--record", action="store_true",
                    help="claude-code: also install attempt/outcome "
                         "recording hooks")
    sp.add_argument("--force", action="store_true")
    sp.set_defaults(fn=cmd_hooks)

    sp = sub.add_parser("serve")
    sp.add_argument("--once", action="store_true", help="answer one request, then exit")
    sp.add_argument("--list-tools", action="store_true", dest="list_tools")
    sp.add_argument("--list-prompts", action="store_true", dest="list_prompts")
    sp.add_argument("--disabled-tools", dest="disabled_tools",
                    help="comma-separated tools to refuse")
    sp.add_argument("--safe-mode", action="store_true", dest="safe_mode",
                    help="disable command-executing / SQL / mutating tools")
    sp.set_defaults(fn=cmd_serve)

    sp = sub.add_parser("sandbox")
    ssub = sp.add_subparsers(dest="sandbox_command")
    sl = ssub.add_parser("list")
    sl.add_argument("-j", "--json", action="store_true")
    si = ssub.add_parser("inspect")
    si.add_argument("name")
    si.add_argument("-j", "--json", action="store_true")
    ss = ssub.add_parser("set")
    ss.add_argument("name")
    from blq_cli_spark.sandbox import PRESETS as _presets

    ss.add_argument("--preset", choices=sorted(_presets))
    ss.add_argument("dims", nargs="*", metavar="key=value",
                    help="spec dimensions, e.g. network=none memory=268435456")
    su = ssub.add_parser("unset")
    su.add_argument("name")
    sg = ssub.add_parser("suggest")
    sg.add_argument("name")
    stt = ssub.add_parser("tighten")
    stt.add_argument("name")
    stt.add_argument("--dry-run", action="store_true", dest="dry_run")
    spf = ssub.add_parser("profile")
    spf.add_argument("name")
    spf.add_argument("-j", "--json", action="store_true")
    spf.add_argument("-n", type=int, default=20, dest="last_n",
                     help="most recent runs to show (default 20)")
    str_p = ssub.add_parser(
        "trace",
        help="run a registered command under strace and suggest the "
             "tightest spec from the observed syscalls (degrades with a "
             "message when strace is absent); --file parses an existing "
             "strace output instead of running",
    )
    str_p.add_argument("name", nargs="?")
    str_p.add_argument("--file", help="existing strace output to parse")
    str_p.add_argument("-j", "--json", action="store_true")
    sp.set_defaults(fn=cmd_sandbox, json=False)

    sp = sub.add_parser("mcp")
    msb = sp.add_subparsers(dest="mcp_command")
    mi = msb.add_parser("install")
    mi.add_argument("--force", "-f", action="store_true")
    msv = msb.add_parser("serve")
    msv.add_argument("--once", action="store_true")
    sp.set_defaults(fn=cmd_mcp)

    sp = sub.add_parser("anomalies")
    sp.add_argument("--severity", default="error",
                    choices=["error", "warning", "info"])
    sp.add_argument("--window", type=int, default=7, help="baseline days")
    sp.add_argument("--threshold", type=float, default=1.5, help="sigma floor")
    sp.set_defaults(fn=cmd_anomalies)

    sp = sub.add_parser("corpus")
    sp.add_argument(
        "corpus_action",
        choices=["profile", "quality", "redact", "funnel", "dedup",
                 "exact-dedup", "mix", "decontaminate", "winnow", "tokens",
                 "materialize", "score", "source-kl", "clean-spans",
                 "dedup-paragraphs",
                 "train-classifier", "classify", "gopher", "passages",
                 "score-bigram", "pipeline", "pack", "report", "select",
                 "chunk", "shuffle", "sample", "upsample", "fertility",
                 "buckets", "pack-report", "token-sample", "split",
                 "train-tokenizer", "encode", "bpe-fertility",
                 "shard-manifest", "sweep", "extract", "normalize",
                 "stream", "pmi", "zipf", "c4-lines", "gopher-lines",
                 "langid-train", "langid"],
    )
    sp.add_argument("--input", required=True, help="corpus parquet path")
    sp.add_argument("--output", help="write full result parquet here")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--source-col", default="source", help="mix: source column")
    sp.add_argument("--rates",
                    help='mix/upsample: JSON rates, e.g. \'{"web": 0.25}\' '
                         '(upsample accepts rates above 1.0 = epochs)')
    sp.add_argument("--temperature", type=float, default=None,
                    help="mix: derive rates from source shares^alpha "
                         "(XLM-style rebalancing) instead of --rates")
    sp.add_argument("--default-rate", type=float, default=0.0)
    sp.add_argument("--benchmark", help="decontaminate: benchmark parquet path")
    sp.add_argument("--ngram", type=int, default=4, help="decontaminate shingle size")
    sp.add_argument("--signatures",
                    help="dedup: persisted banded-signature parquet; dedup "
                         "incrementally against it and append this batch's "
                         "surviving signatures (minhash only)")
    sp.add_argument("--output-format", choices=["parquet", "jsonl"],
                    default="parquet", dest="output_format")
    sp.add_argument("--input-format", choices=["auto", "parquet", "jsonl"],
                    default="auto", dest="input_format")
    sp.add_argument("--output-partitions", type=int, default=None,
                    dest="output_partitions",
                    help="repartition before writing (file-count control)")
    sp.add_argument("--cluster-by", dest="cluster_by", default=None,
                    help="range-cluster output files on this column "
                         "(parquet min/max file skipping)")
    sp.add_argument("--method", choices=["minhash", "simhash"],
                    default="minhash", dest="dedup_method",
                    help="dedup: candidate-generation strategy")
    sp.add_argument("--span-tokens", type=int, default=10,
                    help="clean-spans: tokens per boilerplate span")
    sp.add_argument("--min-docs", type=int, default=2,
                    help="clean-spans: drop spans in this many+ docs")
    sp.add_argument("--positives",
                    help="train-classifier: high-quality reference parquet")
    sp.add_argument("--weights-out", dest="weights_out",
                    help="train-classifier: write weights JSON here")
    sp.add_argument("--weights",
                    help="classify: trained weights JSON path")
    sp.add_argument("--stages",
                    help="pipeline: JSON file with the ordered stage list")
    sp.add_argument("--no-audit", action="store_true", dest="no_audit",
                    help="pipeline: run as one lazy plan with no per-stage "
                         "counts/materialization (the production mode)")
    sp.add_argument("--stats", dest="stats_path",
                    help="stream: per-batch audit-row parquet DIR")
    sp.add_argument("--checkpoint",
                    help="stream: structured-streaming checkpoint DIR")
    sp.add_argument("--follow", action="store_true",
                    help="stream: keep running (default: process what's "
                         "there, print the audit, exit)")
    sp.add_argument("--capacity-tokens", type=int, default=512,
                    dest="capacity_tokens",
                    help="pack: tokens per training sequence bin")
    sp.add_argument("--target",
                    help="select: target-domain parquet (DSIR fits the "
                         "target distribution on it)")
    sp.add_argument("--target-source", dest="target_source",
                    help="select: comma-separated source values — use the "
                         "matching slice of --input as the target instead "
                         "of a separate --target parquet")
    sp.add_argument("--n-select", type=int, default=100, dest="n_select",
                    help="select: documents to resample (Gumbel top-k)")
    sp.add_argument("--seed", type=int, default=0,
                    help="select/shuffle/sample: deterministic seed "
                         "(changes the permutation / which docs win)")
    sp.add_argument("--history",
                    help="exact-dedup: persisted content-hash state dir "
                         "(hashes.parquet + bloom.json); dedup this batch "
                         "against it and fold the survivors in — returns "
                         "surviving rows, not the fingerprint summary")
    sp.add_argument("--chunk-size", type=int, default=128, dest="chunk_size",
                    help="chunk: tokens per window")
    sp.add_argument("--chunk-overlap", type=int, default=0,
                    dest="chunk_overlap",
                    help="chunk: tokens shared between adjacent windows")
    sp.add_argument("--per-source", type=int, default=100, dest="n_per_source",
                    help="sample: exact documents to keep per source")
    sp.add_argument("--shards", type=int, default=0,
                    help="shuffle: write the FULL corpus as this many "
                         "globally-ordered shard files (requires --output)")
    sp.add_argument("--buckets", type=int, default=3, dest="n_buckets",
                    help="buckets: per-language perplexity quantile "
                         "buckets (3 = CCNet head/middle/tail)")
    sp.add_argument("--lang-col", default="lang", dest="lang_col",
                    help="fertility/buckets: language column name")
    sp.add_argument("--form", default="NFC", dest="norm_form",
                    choices=["NFC", "NFKC", "NFD", "NFKD"],
                    help="normalize: Unicode normalization form")
    sp.add_argument("--tokens-per-source", type=int, default=100_000,
                    dest="tokens_per_source",
                    help="token-sample: token budget per source")
    sp.add_argument("--merges", help="BPE merge-list json: written by "
                    "train-tokenizer, read by encode/bpe-fertility")
    sp.add_argument("--model", help="langid model parquet: written by "
                    "langid-train, read by langid (omit to train on the "
                    "labeled input directly)")
    sp.add_argument("--n-merges", type=int, default=1000, dest="n_merges",
                    help="train-tokenizer: number of BPE merges to learn")
    sp.add_argument("--top-k-words", type=int, default=100_000,
                    dest="top_k_words",
                    help="train-tokenizer: word-dictionary cap (the bounded "
                         "table the merge loop runs on)")
    sp.add_argument("--with-tokens", action="store_true", dest="with_tokens",
                    help="encode: include the bpe_tokens array column "
                         "(the materialized tokenization), not just counts")
    sp.add_argument("--score-col", default="score", dest="score_col",
                    help="sweep: classifier-score column of the input")
    sp.add_argument("--label-col", default="label", dest="label_col",
                    help="sweep: boolean label column (null = negative)")
    sp.add_argument("--thresholds",
                    help="sweep: JSON list of cutoffs (default 0.1..0.9)")
    sp.add_argument("-n", "--limit", type=int, default=20, help="preview rows")
    sp.set_defaults(fn=cmd_corpus)

    sp = sub.add_parser("embeddings")
    sp.add_argument("emb_action",
                    choices=["topk", "quantize", "normalize", "neardup",
                             "semantic-dedup", "cluster", "decontaminate",
                             "report", "pca", "eval",
                             "index-build", "index-append", "index-search",
                             "index-info", "index-compact", "index-retrain"])
    sp.add_argument("--input", required=True, help="embedding parquet path")
    sp.add_argument("--output", help="write full result parquet here")
    sp.add_argument("--queries", help="topk: query parquet (default: first --n-queries corpus rows)")
    sp.add_argument("--n-queries", type=int, default=8, dest="n_queries")
    sp.add_argument("-k", type=int, default=5)
    sp.add_argument("--method", choices=["exact", "lsh", "ivf", "quantized"],
                    default="exact")
    sp.add_argument("--threshold", type=float, default=0.95, help="neardup cosine floor")
    sp.add_argument("--benchmark",
                    help="decontaminate: benchmark embedding parquet")
    sp.add_argument("--k-cells", type=int, default=16, dest="k_cells",
                    help="cluster: number of k-means centroids")
    sp.add_argument("--iters", type=int, default=10,
                    help="cluster: Lloyd's iterations")
    sp.add_argument("--n-components", type=int, default=16,
                    dest="n_components", help="pca: output dimensionality")
    sp.add_argument("--whiten", action="store_true",
                    help="pca: scale projections to unit variance")
    sp.add_argument("--model-out", dest="model_out",
                    help="pca: also write the fitted model json here")
    sp.add_argument("--model",
                    help="pca: project with this existing model json "
                         "instead of refitting")
    sp.add_argument("--index", help="index-*: persisted IVF index directory")
    sp.add_argument("--drift", action="store_true",
                    help="index-info: add centroid-drift columns "
                    "(mean_dist/centroid_shift/drift_ratio; re-train "
                    "when any cell's drift_ratio exceeds 0.5)")
    sp.add_argument("--nprobe", type=int, default=2,
                    help="index-search: cells probed per query")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--output-format", choices=["parquet", "jsonl"],
                    default="parquet", dest="output_format")
    sp.add_argument("--input-format", choices=["auto", "parquet", "jsonl"],
                    default="auto", dest="input_format")
    sp.add_argument("--output-partitions", type=int, default=None,
                    dest="output_partitions",
                    help="repartition before writing (file-count control)")
    sp.add_argument("--cluster-by", dest="cluster_by", default=None,
                    help="range-cluster output files on this column "
                         "(parquet min/max file skipping)")
    sp.add_argument("-n", "--limit", type=int, default=20, help="preview rows")
    sp.set_defaults(fn=cmd_embeddings)

    # multimodal binary columns: metadata / perceptual dedup / decode
    sp = sub.add_parser("multimodal", aliases=["mm"])
    sp.add_argument(
        "mm_action",
        choices=["metadata", "image-hash", "image-dedup",
                 "audio-fingerprint", "audio-dedup", "video-hashes",
                 "video-dedup", "decode", "resize", "frames",
                 "audio-features"],
    )
    sp.add_argument("--input", required=True,
                    help="parquet with (id, content binary) columns")
    sp.add_argument("--output", help="write full result parquet here")
    sp.add_argument("--id-col", default="id")
    sp.add_argument("--bin-col", default="content", dest="bin_col")
    sp.add_argument("--method", choices=["dhash", "phash"], default="dhash",
                    help="image-hash/image-dedup: perceptual hash kind")
    sp.add_argument("--max-hamming", type=int, default=7, dest="max_hamming",
                    help="image-dedup/audio-dedup/video-dedup: pair "
                         "distance ceiling")
    sp.add_argument("--min-frame-matches", type=int, default=1,
                    dest="min_frame_matches",
                    help="video-dedup: frames that must agree per clip pair")
    sp.add_argument("--width", type=int, default=32,
                    help="resize: output width")
    sp.add_argument("--height", type=int, default=32,
                    help="resize: output height")
    sp.add_argument("--every-ms", type=int, default=1000, dest="every_ms",
                    help="frames: sampling interval")
    sp.add_argument("--window-ms", type=int, default=1000, dest="window_ms",
                    help="audio-features: window size")
    sp.add_argument("--fake", action="store_true",
                    help="decode/resize/frames: deterministic surrogate "
                         "for formats whose codec is unavailable")
    sp.add_argument("--output-format", choices=["parquet", "jsonl"],
                    default="parquet", dest="output_format")
    sp.add_argument("--input-format", choices=["auto", "parquet", "jsonl"],
                    default="auto", dest="input_format")
    sp.add_argument("--output-partitions", type=int, default=None,
                    dest="output_partitions")
    sp.add_argument("--cluster-by", dest="cluster_by", default=None)
    sp.add_argument("-n", "--limit", type=int, default=20, help="preview rows")
    sp.set_defaults(fn=cmd_multimodal)

    return p


def main(argv: list[str] | None = None) -> int:
    from blq_cli_spark.plans.dsl import FilterExpressionError
    from blq_cli_spark.sources import store as store_mod

    args = build_parser().parse_args(argv)
    # Resolve config-backed defaults (reference UserConfig defaults,
    # config.py): flags the user didn't pass fall back to the store's
    # persisted user config, then to the schema default.
    shim = _store_shim(args)
    if args.format is None:
        args.format = store_mod.config_get(shim, "output.format") or "table"
    if getattr(args, "n", "absent") is None:
        args.n = int(store_mod.config_get(shim, "output.default_limit") or 10)
    if getattr(args, "parse_format", "absent") is None and args.command in (
        "run", "import", "capture", "record", "record-invocation", "watch"
    ):
        args.parse_format = store_mod.config_get(shim, "run.default_format") or "auto"
    try:
        return args.fn(args)
    except FilterExpressionError as exc:
        print(f"blq-spark: error: {exc}", file=sys.stderr)
        return 2
    except FileNotFoundError as exc:
        print(f"blq-spark: error: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
