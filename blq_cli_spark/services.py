"""Service layer: the parameterized read paths behind the reference's MCP
tools and CLI commands (src/blq/services/query.py:233-326 `query_events`,
:165-187 history counts; suppression lists core.py:1459-1500; ref
resolution services/refs.py).

Each service composes store views + filters and returns (total, rows) or a
DataFrame — the agent/CLI boundary stays driver-side, the plan stays
distributed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from blq_cli_spark.operators import views
from blq_cli_spark.plans.query import LogQuery
from blq_cli_spark.sources.store import LogStore


def query_events(
    store: LogStore,
    severities: list[str] | None = None,
    run_serial: int | None = None,
    source: str | None = None,
    file_pattern: str | None = None,
    suppressed_fingerprints: list[str] | None = None,
    default_latest: bool = True,
    limit: int = 50,
) -> tuple[int, list]:
    """The `events` tool read path (reference services/query.py:233-326):
    severity IN (P6), run/source scoping, file LIKE (P7), suppression
    anti-filter (P8), default-to-latest-run (P9), count-before-limit (O6)."""
    flat = store.events_flat()
    q = LogQuery(flat)
    if severities:
        q = q.filter(F.col("severity").isin(severities))
    if run_serial is not None:
        q = q.filter(F.col("run_serial") == run_serial)
    elif source is not None:
        q = q.filter(F.col("source_name") == source)
    elif default_latest:
        latest = flat.agg(F.max("run_serial").alias("m"))
        q = LogQuery(
            flat.join(F.broadcast(latest), flat.run_serial == F.col("m")).drop("m")
        )
        if severities:
            q = q.filter(F.col("severity").isin(severities))
    if file_pattern:
        q = q.filter(F.col("ref_file").like(file_pattern))
    if suppressed_fingerprints:
        q = q.filter(
            F.col("fingerprint").isNull()
            | ~F.col("fingerprint").isin(suppressed_fingerprints)
        )
    q = q.order_by(F.desc("run_serial"), F.desc("event_index")).limit(limit)
    return q.count_then_fetch()


def history_with_counts(store: LogStore, n: int = 10) -> DataFrame:
    """The `history` tool (reference services/query.py:165-187)."""
    return views.history(store.runs_loaded(), n=n)


def ci_check(
    store: LogStore, baseline_serial: int, candidate_serial: int
) -> dict:
    """CI regression check (reference ci_cmd.py:136-178): fail if the
    candidate run introduces fingerprints absent from the baseline."""
    d = views.diff_fingerprints(store.events_flat(), baseline_serial, candidate_serial)
    counts = {r["change"]: r["n"] for r in d.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()}
    new = counts.get("new", 0)
    return {
        "baseline": baseline_serial,
        "candidate": candidate_serial,
        "new": new,
        "fixed": counts.get("fixed", 0),
        "unchanged": counts.get("unchanged", 0),
        "passed": new == 0,
    }


def resolve_baseline(
    store: LogStore,
    run_serial: int | None = None,
    branch: str | None = None,
    commit: str | None = None,
) -> int | None:
    """Baseline resolution by serial / branch / commit (reference
    ci_cmd.py:46-133): latest run matching the selector."""
    runs = store.runs()
    if run_serial is not None:
        return run_serial
    if commit:
        runs = runs.filter(F.col("git_commit") == commit)
    elif branch:
        runs = runs.filter(F.col("git_branch") == branch)
    row = runs.agg(F.max("run_serial").alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else None


# --- ref grammar (reference services/refs.py:24-139) -------------------------

_REF_RE = re.compile(
    r"^(?:(?P<tag>[A-Za-z][\w-]*):)?(?P<serial>\d+)(?::(?P<event>\d+))?$"
)
_REL_RE = re.compile(r"^~(?P<back>\d+)$")


@dataclass
class EventRef:
    tag: str | None
    serial: int | None
    event_index: int | None
    relative: int | None  # ~N -> N runs back

    def is_event(self) -> bool:
        return self.event_index is not None


def parse_ref(ref: str) -> EventRef:
    """Parse `tag:serial[:event]`, bare `serial[:event]`, or relative `~N`
    (reference refs.py:24-139)."""
    m = _REL_RE.match(ref)
    if m:
        return EventRef(None, None, None, int(m["back"]))
    m = _REF_RE.match(ref)
    if not m:
        raise ValueError(f"invalid ref: {ref!r}")
    return EventRef(
        m["tag"], int(m["serial"]), int(m["event"]) if m["event"] else None, None
    )


def resolve_ref(store: LogStore, ref: str) -> DataFrame:
    """Compile a ref to the matching rows: run refs -> runs_loaded row,
    event refs -> events_flat row; `~N` -> Nth most recent run (O3
    offset semantics, refs.py:174-195)."""
    parsed = parse_ref(ref)
    if parsed.relative is not None:
        return (
            store.runs_loaded()
            .orderBy(F.desc("run_serial"))
            .offset(parsed.relative - 1)
            .limit(1)
        )
    if parsed.is_event():
        flat = store.events_flat().filter(
            (F.col("run_serial") == parsed.serial)
            & (F.col("event_index") == parsed.event_index)
        )
        return flat if parsed.tag is None else flat.filter(F.col("tag") == parsed.tag)
    runs = store.runs_loaded().filter(F.col("run_serial") == parsed.serial)
    return runs if parsed.tag is None else runs.filter(F.col("tag") == parsed.tag)


def resolve_run_serial(store: LogStore, ref: str) -> int:
    """Resolve a ref (`tag:serial`, `serial`, `~N`) OR a bare source
    name (-> that source's most recent run) to a run_serial (reference
    cmd_output ref fallback, commands/management.py:595-600)."""
    try:
        parsed = parse_ref(ref)
    except ValueError:
        parsed = None
    if parsed is None:
        row = (
            store.runs()
            .filter(F.col("source_name") == ref)
            .agg(F.max("run_serial").alias("m"))
            .collect()[0]
        )
        if row["m"] is None:
            raise ValueError(f"no runs for source {ref!r}")
        return int(row["m"])
    if parsed.relative is not None:
        rows = resolve_ref(store, ref).select("run_serial").collect()
        if not rows:
            raise ValueError(f"no run {ref} back")
        return int(rows[0]["run_serial"])
    assert parsed.serial is not None
    return parsed.serial


def get_output(
    store: LogStore,
    run_serial: int,
    stream: str = "combined",
    grep: str | None = None,
    ctx: int = 2,
    head: int | None = None,
    tail: int | None = None,
    lines: str | None = None,
    ignore_case: bool = True,
) -> DataFrame:
    """The MCP `output` tool read path (reference serve.py:1305-1444):
    fetch a stored run's raw output and apply grep-with-context / head /
    tail / line-spec selection, all as distributed line operators
    (operators/context.py)."""
    from blq_cli_spark.operators import context

    run = store.runs().filter(F.col("run_serial") == run_serial).select("id").collect()
    if not run:
        raise ValueError(f"no run with serial {run_serial}")
    out_rows = (
        store.outputs()
        .filter(
            (F.col("invocation_id") == run[0]["id"]) & (F.col("stream") == stream)
        )
        .collect()
    )
    if not out_rows:
        raise ValueError(f"no {stream} output for run {run_serial}")
    content = store.read_output(out_rows[0]["storage_ref"]).decode(
        "utf-8", errors="replace"
    )
    df = store.spark.createDataFrame([(str(run_serial), content)], "id string, content string")
    line_df = context.text_to_lines(df)
    if lines:
        line_df = context.select_lines(line_df, lines)
    if grep:
        line_df = context.grep_with_context(
            line_df, grep, ctx=ctx, ignore_case=ignore_case
        )
    if head is not None or tail is not None:
        line_df = context.head_tail(line_df, head=head, tail=tail)
    return line_df


_TOP_COLS = ["ref_file", "ref_line", "message", "code", "fingerprint"]
_COUNTED = ("total_errors", "total_warnings", "baseline_errors")


def report_data(
    store: LogStore,
    run_serial: int | None = None,
    baseline_serial: int | None = None,
    error_limit: int = 20,
    file_limit: int = 10,
) -> dict:
    """Collect the `blq report` payload (reference report_cmd.py:41-142):
    run metadata, error/warning totals, by-file breakdowns, top diagnostics,
    and — with a baseline — new/fixed fingerprint sets.

    Run-scoped: the run rows come from `runs`, not `runs_loaded` (whose
    per-run counts are never read), and `events` is read once, filtered to
    the run's and the baseline's errors and warnings. Each event is tagged
    with every piece it feeds — totals, by-file counts, top rows, and
    new/fixed from per-fingerprint presence flags instead of anti-joins;
    one groupBy plus one row_number per tag bounds every piece, and the
    tagged rows are collected in one action. Only limited rows reach the
    driver, which splits them by tag in rank order."""
    runs = store.runs()
    if run_serial is None:  # the latest run: a top-1, one job, no shuffle
        latest = runs.select("run_serial").orderBy(F.desc("run_serial")).limit(1).collect()
        if not latest:
            return {"run_serial": None}
        run_serial = latest[0]["run_serial"]
    # tool arguments arrive as JSON, where a serial may be a string
    run_serial = int(run_serial)
    baseline_serial = None if baseline_serial is None else int(baseline_serial)
    serials = [s for s in (run_serial, baseline_serial) if s is not None]
    run_rows = runs.filter(F.col("run_serial").isin(serials)).collect()
    current = [r for r in run_rows if r["run_serial"] == run_serial]
    if not current:
        return {"run_serial": None}
    run = current[0].asDict()

    def ids(serial: int | None) -> list[str]:
        return [r["id"] for r in run_rows if r["run_serial"] == serial]

    data = {
        "run_serial": run_serial,
        "source_name": run.get("source_name"),
        "timestamp": str(run.get("timestamp") or ""),
        "exit_code": run.get("exit_code"),
        "git_branch": run.get("git_branch"),
        "git_commit": run.get("git_commit"),
    }
    base_ids = None
    if baseline_serial is not None:
        data["baseline_serial"], base_ids = baseline_serial, ids(baseline_serial)
    data.update(_report_pieces(store.events(), ids(run_serial), base_ids, error_limit, file_limit))
    return data


def _report_pieces(
    events: DataFrame,
    run_ids: list[str],
    base_ids: list[str] | None,
    error_limit: int,
    file_limit: int,
) -> dict:
    """The bounded pieces of `report_data` from one filtered read of the
    run's and the baseline's events (an event of a run that is its own
    baseline is both); `base_ids=None` means no baseline pieces."""
    cur, base = F.col("invocation_id").isin(run_ids), F.col("invocation_id").isin(base_ids or [])
    err, warn = F.col("severity") == "error", F.col("severity") == "warning"
    has_file = F.col("ref_file").isNotNull()
    sub = events.filter((cur | base) & (err | warn))
    tags = {
        "total_errors": cur & err,
        "total_warnings": cur & warn,
        "errors_by_file": cur & err & has_file,
        "warnings_by_file": cur & warn & has_file,
        "top_errors": cur & err,
        "top_warnings": cur & warn,
    }
    if base_ids is not None:
        # per-fingerprint presence among each side's errors; a null
        # fingerprint is never present, so its error is both new and fixed
        # (each null-fingerprint event is its own window partition)
        has_fp = F.col("fingerprint").isNotNull()
        w = Window.partitionBy("fingerprint", F.when(~has_fp, F.col("id")))
        sub = sub.select(
            "*",
            F.bool_or(cur & err & has_fp).over(w).alias("_fp_cur"),
            F.bool_or(base & err & has_fp).over(w).alias("_fp_base"),
        )
        tags.update(
            baseline_errors=base & err,
            new_errors=cur & err & ~F.col("_fp_base"),
            fixed_errors=base & err & ~F.col("_fp_cur"),
        )
    # one row per (event, piece it feeds); each piece groups on its own
    # key: nothing for a total, the file for a by-file count and the whole
    # event for a listed row, whose count is then 1
    tagged = sub.select(
        F.explode(F.array_compact(F.array(*[F.when(c, t) for t, c in tags.items()]))).alias("tag"),
        "id",
        "event_index",
        *_TOP_COLS,
    )
    total, by_file = F.col("tag").isin(*_COUNTED), F.col("tag").endswith("_by_file")
    listed = ~total & ~by_file
    keys = [F.when(~total, F.col("ref_file")).alias("ref_file")] + [
        F.when(listed, F.col(c)).alias(c) for c in ("id", "event_index", *_TOP_COLS[1:])
    ]
    rank = F.row_number().over(
        Window.partitionBy("tag").orderBy(F.desc("count"), "event_index", "ref_file")
    )
    kept = (
        tagged.groupBy("tag", *keys)
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("_rank", rank)
        # the literal cap lets Spark bound each tag before the window's
        # exchange (a partial WindowGroupLimit); the CASE cap is per tag
        .filter(
            (F.col("_rank") <= max(file_limit, error_limit, 1))
            & (F.col("_rank") <= F.when(by_file, file_limit).when(listed, error_limit).otherwise(1))
        )
        .collect()
    )
    out: dict = {t: 0 if t in _COUNTED else [] for t in tags}
    for r in sorted(kept, key=lambda r: r["_rank"]):
        if r["tag"] in _COUNTED:
            out[r["tag"]] = r["count"]
        elif r["tag"].endswith("_by_file"):
            out[r["tag"]].append({"ref_file": r["ref_file"], "count": r["count"]})
        else:
            out[r["tag"]].append({c: r[c] for c in _TOP_COLS})
    return out


def fingerprint_history(store: LogStore, fingerprint: str, n: int = 20) -> list[dict]:
    """Per-run occurrence history of one fingerprint (reference
    get_fingerprint_history, services/inspect.py:159-210): which runs
    contain it, how often, first/last seen. One filtered groupBy — the
    fingerprint predicate prunes at the scan."""
    rows = (
        store.events_flat()
        .filter(F.col("fingerprint") == fingerprint)
        .groupBy("run_serial", "source_name")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("run_timestamp").alias("first_seen"),
        )
        .orderBy(F.desc("run_serial"))
        .limit(n)
        .collect()
    )
    return [r.asDict() for r in rows]


def inspect_event(
    store: LogStore,
    ref: str,
    lines: int = 3,
    source_root: str | None = None,
    include_source: bool = False,
    include_git: bool = False,
    include_fingerprint: bool = False,
) -> dict:
    """Comprehensive event detail (reference cmd_inspect,
    commands/events.py:223-373): the event row plus log context (always),
    source context / git blame+history / fingerprint history on request.
    Every enrichment is best-effort — a missing raw log or untracked file
    yields None for that section, never an error."""
    from blq_cli_spark import gitctx
    from blq_cli_spark.operators import context as ctx_ops

    parsed = parse_ref(ref)
    if not parsed.is_event():
        raise ValueError(f"inspect requires an event ref (e.g. 5:3), got {ref!r}")
    rows = resolve_ref(store, ref).collect()
    if not rows:
        raise ValueError(f"event {ref} not found")
    event = rows[0].asDict()
    result = dict(event)

    start, end = event.get("log_line_start"), event.get("log_line_end")
    result["log_context"] = None
    if start is not None:
        end = end or start
        try:
            df = get_output(
                store, parsed.serial,
                lines=f"{max(1, start - lines)}-{end + lines}",
            )
            result["log_context"] = [
                {"line_number": r["line_number"], "line": r["line"],
                 "is_event": start <= r["line_number"] <= end}
                for r in df.orderBy("line_number").collect()
            ]
        except ValueError:
            pass

    root = source_root or "."
    ref_file, ref_line = event.get("ref_file"), event.get("ref_line")
    if include_source:
        result["source_context"] = None
        if ref_file:
            try:
                path = ctx_ops.resolve_under_root(root, ref_file)
                with open(path) as fh:
                    src = fh.read().splitlines()
                line = ref_line or 1
                lo = max(1, line - lines)
                hi = min(len(src), line + lines)
                result["source_context"] = [
                    {"line_number": i, "line": src[i - 1], "is_event": i == line}
                    for i in range(lo, hi + 1)
                ]
            except (OSError, ValueError):
                pass
    if include_git:
        result["git_context"] = None
        if ref_file:
            try:
                ctx_ops.resolve_under_root(root, ref_file)  # path safety first
                result["git_context"] = gitctx.file_context(
                    ref_file, ref_line, cwd=root
                )
            except ValueError:
                pass
    if include_fingerprint and event.get("fingerprint"):
        result["fingerprint_history"] = fingerprint_history(
            store, event["fingerprint"]
        )
    return result


def anomalous_days(
    store: LogStore,
    severity: str = "error",
    window_days: int = 7,
    threshold: float = 1.5,
) -> DataFrame:
    """Days whose `severity` event count deviates >= `threshold` sigma
    from the trailing `window_days` baseline (strictly preceding frame —
    a spike never suppresses its own alert; same relational shape as the
    ts_anomaly_days gate, here over the store's own events). The ordered
    window runs on the per-day aggregate, which is tiny at any store
    size; the daily count is map-side combinable and the date-partition
    layout prunes the scan when a time range is applied upstream."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    daily = (
        store.events()
        .filter(F.col("severity") == severity)
        .groupBy(F.col("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day").rowsBetween(-window_days, -1)
    scored = daily.select(
        "day",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        scored.filter(
            F.col("sigma").isNotNull() & (F.col("sigma") > 0) & (F.abs(z) >= threshold)
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").alias(f"n_{severity}s"),
            F.round(z, 2).alias("zscore"),
        )
        .orderBy("day")
    )
