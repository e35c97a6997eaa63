"""Streaming-shaped operators (SURVEY.md §2.10).

The reference has no streaming engine; its "live output" pattern is
poll-and-reparse (ST1: src/blq/bird.py:1052-1109 `read_live_output` /
`extract_live_events` — readers re-parse the whole combined.log on
demand). Two Spark designs cover the semantics:

1. `poll_live_events` — the faithful equivalent: batch re-parse of a live
   log file on each call. Matches reference behavior exactly (transient
   events, no state).

2. `stream_run_logs` / `windowed_severity_counts` — the scale path:
   Structured Streaming over a drop-directory where each completed (or
   rotated) run log lands as a file; the rule-table parser runs inside
   mapInPandas on the stream, and downstream windowed aggregations use
   event-time + watermark. This is the 1000-executor shape: file listing
   is incremental, parsing is per-file parallel, state is bounded by the
   watermark.

ST2 (attempts/outcomes status) stays a batch left join over append-only
tables (operators/views.load_attempts) — the reference derives status at
read time, not via a stateful stream, and wall-clock orphan sweeps are a
periodic batch job (LogStore.sweep_orphans).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from blq_cli_spark.sources import logparse


def poll_live_events(spark: SparkSession, live_path: str, fmt: str = "auto") -> DataFrame:
    """ST1 faithful form: re-parse the current contents of a live log file
    into transient events (reference bird.py:1052-1109). Driver reads the
    file (it is a single in-progress log, inherently one machine's data);
    parsing stays local — matching the reference's single-file scope."""
    with open(live_path) as fh:
        content = fh.read()
    events = logparse.parse_content(content, fmt)
    if not events:
        return spark.createDataFrame([], logparse.PARSED_EVENT_DDL.replace("source_id", "source_id"))
    import pandas as pd

    pdf = pd.DataFrame(events)
    pdf.insert(0, "source_id", live_path)
    pdf.insert(1, "event_index", range(1, len(events) + 1))
    field_names = [c.split()[0] for c in logparse.PARSED_EVENT_DDL.split(",")]
    for name in field_names:
        if name not in pdf.columns:
            pdf[name] = None
    return spark.createDataFrame(pdf[field_names], logparse.PARSED_EVENT_DDL)


def stream_run_logs(
    spark: SparkSession, drop_dir: str, fmt: str = "auto", max_files_per_trigger: int | None = None
) -> DataFrame:
    """Scale path: streaming source over a drop-directory of run logs.

    Each file = one run's output (`wholetext`), parsed by the rule-table
    parser inside mapInPandas; `input_file_name()` is the run identity.
    Returns an unbounded DataFrame of parsed events with an ingest
    timestamp for windowing."""
    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = (
        reader.load(drop_dir)
        .select(
            F.input_file_name().alias("source_id"),
            F.col("value").alias("content"),
        )
    )
    parsed = logparse.parse_df(raw, fmt=fmt)
    return parsed.withColumn("ingest_ts", F.current_timestamp())


def windowed_severity_counts(
    events: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    ts_col: str = "ingest_ts",
    slide: str | None = None,
) -> DataFrame:
    """Windowed severity counts with a watermark (late data beyond the
    delay is dropped; state is bounded — the 100 TB requirement).
    `slide` < window gives overlapping sliding windows (each event lands
    in window/slide windows); None = tumbling. Batch twin with an oracle:
    gates ts_tumbling_window / ts_sliding_window."""
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(win.alias("w"), "severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "severity", "n")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "20 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair left rows with right
    rows sharing `key` whose event time lies in
    [left_ts - max_delay, left_ts] — the attribute-events-to-attempts /
    clicks-to-impressions shape (ST2's streaming generalization).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can expire state on BOTH sides (unbounded
    stream-stream joins otherwise keep every row forever — the thing
    that kills a 100 TB stream). Columns from the right side are
    prefixed `r_` to keep the joined schema collision-free.

    For outer flavors Spark emits the unmatched row only after the
    watermark passes — with availableNow test triggers that means inner
    is the shape to assert on; outer is supported for completeness."""
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = (
        right.withWatermark(right_ts, watermark)
        .select(
            *[F.col(c).alias(c if c in (key, right_ts) else f"r_{c}") for c in right.columns]
        )
        .withColumnRenamed(key, f"r_{key}")
        .withColumnRenamed(right_ts, f"r_{right_ts}")
        .alias("r")
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.r_{key}"))
        & (F.col(f"r.r_{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_delay}"))
        & (F.col(f"r.r_{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return lw.join(rw, cond, how)


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, await_seconds: float = 30.0
) -> None:
    """Drive a streaming DF into an in-memory table with availableNow
    semantics (drain-what-exists, then stop) — the test/backfill trigger."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(await_seconds)
    # awaitTermination(t) RETURNS on timeout with the query still
    # running — on a loaded host a slow drain would leak an active
    # query into the session (observed: every later checkpoint_scope
    # then skips its release because streams.active is non-empty). Callers get whatever drained (their assertions/reads
    # see a partial table and fail loudly); the query never outlives
    # the call.
    if q.isActive:
        q.stop()


def stream_to_store(stream_events: DataFrame, store, query_name: str = "ingest"):
    """Persist a stream of parsed events into a LogStore: each micro-batch
    appends one synthetic run per source plus its events — the streaming
    version of the import path (S8) with exactly-once-per-file semantics
    from the file source.

    Fully distributed sink: the only thing ever collected is the
    per-source run summary (one row per log FILE in the batch — the runs
    DIMENSION, needed on the driver for serial assignment), derived with
    a map-side-combinable groupBy. The events themselves never touch the
    driver: they join a broadcast (source_id -> invocation_id) map and
    append through the same date-partitioned parquet layout as
    LogStore._append (store.py:129). Returns the started StreamingQuery
    (availableNow trigger: drain existing files, stop)."""
    import datetime as _dt
    import uuid as _uuid

    from blq_cli_spark import schemas

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        summaries = (
            batch_df.groupBy("source_id")
            .agg(
                F.max((F.col("severity") == "error").cast("int")).alias("has_err"),
                F.min_by("format_used", "event_index").alias("format_hint"),
            )
            .collect()
        )
        if not summaries:
            return
        now = _dt.datetime.now()
        run_rows, mapping = [], []
        for s in sorted(summaries, key=lambda r: r["source_id"]):
            inv_id = str(_uuid.uuid4())
            run_rows.append(
                {
                    "id": inv_id,
                    "cmd": f"stream {s['source_id']}",
                    "source_name": s["source_id"].rsplit("/", 1)[-1],
                    "source_type": "import",
                    "exit_code": 1 if s["has_err"] else 0,
                    "format_hint": s["format_hint"],
                    "run_serial": store.next_serial(),
                    "timestamp": now,
                    "date": now.date(),
                }
            )
            mapping.append((s["source_id"], inv_id))
        store._append("runs", run_rows)

        mdf = batch_df.sparkSession.createDataFrame(
            mapping, "source_id string, invocation_id string"
        )
        ev = (
            batch_df.join(F.broadcast(mdf), "source_id")
            .withColumn("id", F.expr("uuid()"))
            .withColumn("date", F.lit(now.date()))
        )
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in ev.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schemas.EVENTS_SCHEMA.fields
        ]
        ev.select(cols).write.mode("append").partitionBy("date").parquet(
            store._path("events")
        )

    return (
        stream_events.writeStream.foreachBatch(_sink)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "source_id",
    ts_col: str = "ingest_ts",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Streaming sessionization: per-key activity sessions that close
    after `gap` of silence — the streaming twin of the batch
    `ts_sessionize` gate (gates/events_ts.py; there via lag()+cumsum,
    here via native session_window, which merges/extends session state
    incrementally and expires it once the watermark passes session end +
    gap). State is bounded per live key, so a 100 TB stream holds only
    open sessions, never history."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(ts_col, gap).alias("s"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("severity") == "error").cast("int")).alias("n_errors"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key,
            "n_events",
            "n_errors",
        )
    )


def stream_enrich_static(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach a (small, slowly-changing)
    dimension to a live stream. Spark re-plans the static side per
    micro-batch, so a broadcast hint keeps every batch shuffle-free on
    the stream side — the canonical pattern for joining live events to
    registered-command / suppression metadata without stateful join
    machinery (no watermark needed: the static side is not a stream).
    Dimension columns are prefixed `dim_` to keep the schema
    collision-free."""
    pref = dim.select(
        *[F.col(c).alias(c if c == key else f"dim_{c}") for c in dim.columns]
    )
    return stream.join(F.broadcast(pref), key, how)
