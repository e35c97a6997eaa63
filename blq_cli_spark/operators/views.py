"""The blq macro/view library re-expressed as DataFrame combinators
(SURVEY.md §2.9). Each function is the Spark-first equivalent of one
reference table-valued macro; named defaults (`n := 10`) become Python
defaults.

Scale notes: runs/attempts/outcomes are dimension-sized -> broadcast in
every join against events (the fact table). The reference's global
`ROW_NUMBER() OVER (ORDER BY timestamp)` run_serial (bird_schema.sql:
288-295) is a stored column assigned at ingest (LogStore.append_run), so
no single-partition window ever runs at scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from blq_cli_spark.functions.scalar import (
    completed_at,
    elapsed_ms,
    location,
    ref_string,
    short_fingerprint,
    status_badge,
    status_of,
)

# run-side columns exposed on the flat events view (reference
# blq_load_events output, bird_schema.sql:287-363)
_RUN_CARRY = ["run_serial", "tag", "source_name", "source_type", "git_branch", "exit_code"]


def load_events(events: DataFrame, runs: DataFrame) -> DataFrame:
    """`blq_load_events()`: the denormalized primary query surface —
    events ⋈ invocations + display ref/location strings (reference
    bird_schema.sql:287-363). J1 broadcast join."""
    r = F.broadcast(
        runs.select(
            F.col("id").alias("_run_id"),
            F.col("timestamp").alias("run_timestamp"),
            *_RUN_CARRY,
        )
    )
    e = events.join(r, events.invocation_id == F.col("_run_id"), "inner").drop("_run_id")
    return e.select(
        "*",
        ref_string(F.col("tag"), F.col("run_serial"), F.col("event_index")).alias("ref"),
        location(F.col("ref_file"), F.col("ref_line"), F.col("ref_column")).alias("loc"),
        short_fingerprint(F.col("fingerprint")).alias("short_fp"),
    )


def load_runs(runs: DataFrame, events: DataFrame) -> DataFrame:
    """`blq_load_runs()`: runs + per-run event counts (reference
    bird_schema.sql:433-465 — LEFT JOIN + filtered counts + distinct
    error fingerprints).

    Shuffle-lean formulation: pre-aggregate events by invocation_id
    (map-side combinable), then join the counts table onto runs —
    instead of joining the raw fact table against runs first. The join
    strategy is left to AQE: counts is one row per RUN, which a
    long-lived store grows without bound, so a forced broadcast would
    eventually OOM; AQE broadcasts while it fits and shuffle-joins (both
    sides keyed on the run id) beyond that."""
    counts = events.groupBy("invocation_id").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.sum(F.when(F.col("severity") == "error", 1).otherwise(0)).alias("error_count"),
        F.sum(F.when(F.col("severity") == "warning", 1).otherwise(0)).alias("warning_count"),
        F.countDistinct(F.when(F.col("severity") == "error", F.col("fingerprint"))).alias(
            "unique_errors"
        ),
    )
    joined = runs.join(
        counts, runs.id == counts.invocation_id, "left"
    ).drop("invocation_id")
    return joined.select(
        "*",
        F.coalesce("event_count", F.lit(0)).alias("n_events"),
        F.coalesce("error_count", F.lit(0)).alias("n_errors"),
        F.coalesce("warning_count", F.lit(0)).alias("n_warnings"),
        F.coalesce("unique_errors", F.lit(0)).alias("n_unique_errors"),
        status_badge(F.col("exit_code")).alias("badge"),
        completed_at(F.col("timestamp"), F.col("duration_ms")).alias("completed_at"),
        ref_string(F.col("tag"), F.col("run_serial")).alias("ref"),
    ).drop("event_count", "error_count", "warning_count", "unique_errors")


def load_attempts(attempts: DataFrame, outcomes: DataFrame, now=None) -> DataFrame:
    """`blq_load_attempts()`: attempts ⟕ outcomes with three-way status and
    elapsed time (reference bird_schema.sql:472-515; status CASE :399-404)."""
    now = now if now is not None else F.current_timestamp()
    o = F.broadcast(
        outcomes.select(
            F.col("attempt_id").alias("_aid"),
            "completed_at",
            F.col("duration_ms").alias("outcome_duration_ms"),
            "exit_code",
            "signal",
            "timeout",
        )
    )
    j = attempts.join(o, attempts.id == F.col("_aid"), "left")
    return j.select(
        "*",
        status_of(F.col("_aid"), F.col("exit_code")).alias("status"),
        F.when(F.col("_aid").isNull(), elapsed_ms(now, F.col("started_at")))
        .otherwise(F.col("outcome_duration_ms"))
        .alias("elapsed_ms"),
        status_badge(F.col("exit_code")).alias("badge"),
    ).drop("_aid")


def running(attempts: DataFrame, outcomes: DataFrame) -> DataFrame:
    """`blq_running()`: attempts with no outcome — anti join (reference
    NOT EXISTS, bird_schema.sql:640-652)."""
    return attempts.join(
        outcomes, attempts.id == outcomes.attempt_id, "left_anti"
    )


def load_source_status(runs_l: DataFrame, attempts_l: DataFrame) -> DataFrame:
    """`blq_load_source_status()`: completed runs ∪ pending attempts,
    latest per source (reference U1+W2, bird_schema.sql:518-574)."""
    completed = runs_l.select(
        "source_name",
        F.col("timestamp").alias("started_at"),
        F.lit("completed").alias("status"),
        "badge",
        "n_errors",
        "n_warnings",
        "ref",
    )
    pending = attempts_l.filter(F.col("status") == "pending").select(
        "source_name",
        "started_at",
        "status",
        F.lit("?").alias("badge"),
        F.lit(0).cast("long").alias("n_errors"),
        F.lit(0).cast("long").alias("n_warnings"),
        F.lit(None).cast("string").alias("ref"),
    )
    unioned = completed.unionByName(pending)
    w = Window.partitionBy(F.coalesce("source_name", F.lit("__none__"))).orderBy(
        F.desc("started_at")
    )
    return unioned.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def errors(events_flat: DataFrame, n: int = 10) -> DataFrame:
    """`blq_errors(n)`: latest n error events (reference
    bird_schema.sql:592-605)."""
    return (
        events_flat.filter(F.col("severity") == "error")
        .orderBy(F.desc("run_serial"), F.desc("event_index"))
        .limit(n)
    )


def warnings(events_flat: DataFrame, n: int = 10) -> DataFrame:
    """`blq_warnings(n)` (reference bird_schema.sql:608-621)."""
    return (
        events_flat.filter(F.col("severity") == "warning")
        .orderBy(F.desc("run_serial"), F.desc("event_index"))
        .limit(n)
    )


def errors_json(events_flat: DataFrame, n: int = 10) -> DataFrame:
    """`blq_errors_json(n)`: one-row JSON array of recent errors (reference
    to_json(list(struct ...)), bird_schema.sql:748-768)."""
    recent = errors(events_flat, n).select(
        "ref", "severity", "message", "loc", "tool_name", "fingerprint", "run_serial", "event_index"
    )
    return recent.agg(
        F.to_json(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "run_serial", "event_index", "ref", "severity", "message", "loc",
                        "tool_name", "fingerprint",
                    )
                )
            )
        ).alias("errors_json")
    )


def history(runs_l: DataFrame, n: int = 10) -> DataFrame:
    """`blq_history(n)`: latest n runs with counts + badge (reference
    bird_schema.sql:624-637)."""
    return runs_l.orderBy(F.desc("run_serial")).limit(n)


def summary(events_flat: DataFrame, latest_only: bool = False) -> DataFrame:
    """`blq_summary` / `blq_summary_latest`: counts per tool/category
    HAVING any diagnostics (reference schema.sql:193-220)."""
    df = events_flat
    if latest_only:
        latest = df.agg(F.max("run_serial").alias("m"))
        df = df.join(F.broadcast(latest), df.run_serial == F.col("m")).drop("m")
    return (
        df.groupBy("tool_name", "category")
        .agg(
            F.sum(F.when(F.col("severity") == "error", 1).otherwise(0)).alias("errors"),
            F.sum(F.when(F.col("severity") == "warning", 1).otherwise(0)).alias("warnings"),
            F.count(F.lit(1)).alias("total"),
        )
        .filter((F.col("errors") > 0) | (F.col("warnings") > 0))
    )


def diff_by_group(events_flat: DataFrame, serial1: int, serial2: int) -> DataFrame:
    """`blq_diff(r1, r2)`: per tool/category delta between two runs —
    FULL OUTER JOIN + COALESCE (reference bird_schema.sql:677-706)."""

    def side(serial: int, alias: str) -> DataFrame:
        return (
            events_flat.filter(F.col("run_serial") == serial)
            .groupBy("tool_name", "category")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    j = side(serial1, "count1").join(side(serial2, "count2"), ["tool_name", "category"], "full_outer")
    return j.select(
        "tool_name",
        "category",
        F.coalesce("count1", F.lit(0)).alias("count1"),
        F.coalesce("count2", F.lit(0)).alias("count2"),
        (F.coalesce("count2", F.lit(0)) - F.coalesce("count1", F.lit(0))).alias("delta"),
    )


def diff_fingerprints(events_flat: DataFrame, serial1: int, serial2: int) -> DataFrame:
    """J8: regression diff by fingerprint set algebra — new (in r2 not r1),
    fixed (in r1 not r2), unchanged (both) (reference services/query.py:
    380-412, ci_cmd.py:136-178). One filtered scan of the two runs, then
    one groupBy(fingerprint) with a presence flag per run."""
    g = (
        events_flat.filter(
            F.col("run_serial").isin(serial1, serial2) & F.col("fingerprint").isNotNull()
        )
        .groupBy("fingerprint")
        .agg(
            F.bool_or(F.col("run_serial") == serial1).alias("in1"),
            F.bool_or(F.col("run_serial") == serial2).alias("in2"),
        )
    )
    change = F.when(~F.col("in1"), "new").when(~F.col("in2"), "fixed").otherwise("unchanged")
    return g.select("fingerprint", change.alias("change"))


def similar_events(events_flat: DataFrame, fingerprint: str, n: int = 10) -> DataFrame:
    """`blq_similar_events(fp, n)`: occurrence history of one fingerprint
    (reference schema.sql:327-337); feeds A12 regression-gap detection."""
    return (
        events_flat.filter(F.col("fingerprint") == fingerprint)
        .orderBy(F.desc("run_serial"), F.desc("event_index"))
        .limit(n)
    )


def fingerprint_stats(events_flat: DataFrame) -> DataFrame:
    """A12: per-fingerprint occurrence stats + regression detection (a gap
    in the run_serial sequence -> reappeared after fix) via lag window
    (reference src/blq/commands/events.py:585-648)."""
    per_run = (
        events_flat.filter(F.col("fingerprint").isNotNull())
        .select("fingerprint", "run_serial")
        .distinct()
    )
    w = Window.partitionBy("fingerprint").orderBy("run_serial")
    gaps = per_run.withColumn("prev_serial", F.lag("run_serial").over(w)).withColumn(
        "gap", F.col("run_serial") - F.coalesce(F.col("prev_serial"), F.col("run_serial"))
    )
    return gaps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.min("run_serial").alias("first_serial"),
        F.max("run_serial").alias("last_serial"),
        F.max("gap").alias("max_gap"),
        (F.max("gap") > 1).alias("reappeared"),
    )


def sandbox_summary(runs: DataFrame) -> DataFrame:
    """`blq_sandbox_summary()`: JSON extraction from extension_data +
    GROUP BY ALL (reference bird_schema.sql:862-888)."""
    g = runs.select(
        F.get_json_object("extension_data", "$.sandbox.network").alias("network"),
        F.get_json_object("extension_data", "$.sandbox.filesystem").alias("filesystem"),
    )
    return g.groupBy("network", "filesystem").agg(F.count(F.lit(1)).alias("n_runs"))


def file_events(events_flat: DataFrame, path: str) -> DataFrame:
    """`blq_file(path)` v1 extra: all events for one file, newest first
    (reference schema.sql:223-230)."""
    return events_flat.filter(F.col("ref_file") == path).orderBy(
        F.desc("run_serial"), "ref_line"
    )


def files(events_flat: DataFrame) -> DataFrame:
    """`blq_files` v1 extra: per-file diagnostic counts (reference
    schema.sql:233-240)."""
    return (
        events_flat.filter(F.col("ref_file").isNotNull())
        .groupBy("ref_file")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("severity") == "error").alias("errors"),
            F.count_if(F.col("severity") == "warning").alias("warnings"),
            F.max("run_serial").alias("last_run_serial"),
        )
        .orderBy(F.desc("errors"), F.desc("total"))
    )


def errors_compact(events_flat: DataFrame, n: int = 10) -> DataFrame:
    """`blq_errors_compact` v1 extra: location + truncated message only
    (reference schema.sql:376-388)."""
    from blq_cli_spark.functions import scalar

    return errors(events_flat, n).select(
        "ref",
        scalar.location(F.col("ref_file"), F.col("ref_line"), F.col("ref_column")).alias("loc"),
        F.substring("message", 1, 120).alias("message"),
        "tool_name",
    )
