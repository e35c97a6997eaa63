"""batch_mix: gate queries over seeded tables, each timed from the gate
call through a `noop`-sink write, in a seed-permuted order per pass.
An untimed first pass guards every plan against collapsing to a bare
scan or count and checks every query's rows against its DuckDB oracle;
an untimed sink pass then warms the session for the timed ones."""

from __future__ import annotations

import os
import random
import re
import sys
import time

import eventlog
import gen
import harness
import stats
from metrics import BATCH_QUERIES

SCALE = 0.01  # of the generated tables: 60k lineitem rows, 10k events
# untraced timed passes, whose median is pass_s
MIN_PASSES = 2

# physical operators that only move or re-encode rows
_PASSTHROUGH = re.compile(
    r"^(AdaptiveSparkPlan|ColumnarToRow|InputAdapter|WholeStageCodegen.*|"
    r"(Shuffle|Broadcast|Reused)?Exchange.*|AQEShuffleRead|ShuffleQueryStage|"
    r"BroadcastQueryStage|TableCacheQueryStage|Project|Filter|"
    r"(File|Batch)?Scan.*|LocalTableScan|InMemoryTableScan)$"
)


# -- plan guard ---------------------------------------------------------------

def plan_nodes(plan: str) -> list[str]:
    """Operator lines of a physical-plan tree string, tree glyphs and
    codegen stage markers stripped."""
    out = []
    for line in plan.splitlines():
        s = re.sub(r"^[\s:+\-|]*", "", line)
        s = re.sub(r"^\*\(\d+\)\s*", "", s)
        if s:
            out.append(s)
    return out


def collapsed(plan: str) -> str | None:
    """Why a sink plan collapsed to a bare scan or a bare count, or None.
    Bare scan: only pass-through operators, with no computed expression
    in any Project or Filter. Bare count: every aggregate is count(1)
    over scans that read no columns."""
    nodes = plan_nodes(plan)
    names = [n.split(" ", 1)[0].split("(", 1)[0] for n in nodes]
    computed = any(
        n.startswith(("Project ", "Filter ")) and "(" in n.split(" ", 1)[1]
        for n in nodes
    )
    if all(_PASSTHROUGH.match(n) for n in names) and not computed:
        return "bare scan"
    aggs = [n for n in nodes if "Aggregate" in n.split(" ", 1)[0]]
    if aggs and all(
        re.search(r"functions=\[(partial_|merge_)?count\(1\)\]", a) for a in aggs
    ) and all("ReadSchema: struct<>" in n for n in nodes if "Scan" in n.split(" ", 1)[0]):
        return "bare count"
    return None


def sink_plan(df) -> str:
    """Physical plan the noop sink executes: the frame's own executed
    plan, since a noop write keeps every column."""
    return df._jdf.queryExecution().executedPlan().toString()


# -- the workload ---------------------------------------------------------------

def run(ctx) -> None:
    from blq_cli_spark.gates import oracles, queries

    # the parity tests' own Spark-vs-DuckDB check (tests/oracle.py)
    sys.path.append(os.path.join(harness.ROOT, "tests"))
    import oracle

    qs, oracle_sql = queries(), oracles()
    spark = ctx.spark
    data = os.path.join(ctx.work, "data")
    gen.write_tables(data, SCALE, ctx.seed)

    # untimed check pass: only the Spark side (gate call, sink plan,
    # collect) counts toward warm_s, not DuckDB or the comparison
    janitor = harness.BlockJanitor(spark)
    con = oracle.duck_connection(data)
    warm = 0.0
    try:
        for name in BATCH_QUERIES:
            ctx.attempted += 1
            janitor.mark()
            try:
                t0 = time.perf_counter()
                df = qs[name](spark, data)
                shape = collapsed(sink_plan(df))
                got = df.toPandas()
                warm += time.perf_counter() - t0
                if shape:
                    why = f"plan guard: sink plan is a {shape}"
                else:
                    why = "; ".join(oracle.compare(got, con.sql(oracle_sql[name]).df()))
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                why = f"{type(e).__name__}: {e}"
            janitor.release()
            if why:
                ctx.failed += 1
                ctx.errors.append(f"{name}: {why}"[:300])
    finally:
        con.close()

    rng = random.Random(ctx.seed)
    # one untimed sink pass: the first sink pass after the check pass
    # still runs 10-40% slower than the next, and by a varying amount
    ctx.setup["warm_s"] = warm + _pass(ctx, qs, data, janitor, rng)
    ctx.op_ms.clear()

    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline or i < ctx.min_passes:
        ctx.begin_pass(i)
        pass_s = _pass(ctx, qs, data, janitor, rng)
        ctx.passes.append(pass_s)
        ctx.end_pass(pass_s)
        i += 1


def _pass(ctx, qs, data: str, janitor, rng) -> float:
    """Every query once, in a seed-permuted order, each from the gate
    call through a noop-sink write; returns the summed seconds."""
    tracer = ctx.tracer
    order = list(BATCH_QUERIES)
    rng.shuffle(order)
    pass_s = 0.0
    with tracer.span("pass"):
        for name in order:
            ctx.attempted += 1
            janitor.mark()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"q.{name}.build"):
                    df = qs[name](ctx.spark, data)
                with tracer.span(f"q.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                ctx.failed += 1
                ctx.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            dt = time.perf_counter() - t0
            janitor.release()
            pass_s += dt
            ctx.op_ms.append(dt * 1000.0)
    return pass_s


def install_spans(tracer) -> None:
    """Batch spans are opened by `_pass` itself, around each gate call
    and each sink write."""


def layer_metrics(ctx, per_tag) -> dict[str, float]:
    tr = ctx.tracer
    out = {}
    passes = tr.named("pass")
    for name in BATCH_QUERIES:
        builds, execs = tr.named(f"q.{name}.build"), tr.named(f"q.{name}.exec")
        ids = set().union(*(tr.subtree_ids(s) for s in builds + execs))
        out[f"q.{name}.build_s"] = stats.median([s.seconds for s in builds])
        out[f"q.{name}.exec_s"] = stats.median([s.seconds for s in execs])
        out[f"q.{name}.task_s"] = eventlog.rollup(per_tag, ids).task_ms / 1000.0 / len(passes)
    out.update(eventlog.spark_per_pass(per_tag, [tr.subtree_ids(p) for p in passes]))
    return out
