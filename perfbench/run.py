#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 10 --trace 0

Runs one workload against the package's public functions on
`local[nproc]` from one process with one closed-loop client, checks every
result, and prints one JSON line last: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Run from the root
of a checkout; everything it writes goes under `.perfbench_work/`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import traceback

import harness
import metrics
import stats
from spans import Tracer

WORKLOADS = ("agent_session", "batch_mix")


class Context:
    """What a workload gets (session, tracer, seed, budget) and fills in
    (set-up phases, pass times, operation latencies, checks)."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, seconds: float, trace: bool,
                 min_passes: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.setup: dict[str, float] = {}
        self.passes: list[float] = []
        self.op_ms: list[float] = []
        self.extra: dict[str, float] = {}
        self.tails: dict[str, tuple | None] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.traced_passes: list[float] = []
        self.untraced_passes: list[float] = []
        # traced runs order passes untraced, traced, untraced, so a
        # steady drift between passes cancels out of the overhead line
        self.min_passes = 3 if trace else min_passes

    def begin_pass(self, i: int) -> None:
        self.tracer.enabled = self.trace and i % 3 == 1

    def end_pass(self, seconds: float) -> None:
        (self.traced_passes if self.tracer.enabled else self.untraced_passes).append(seconds)
        self.tracer.enabled = False


def _workload_module(name: str):
    if name == "agent_session":
        import agent

        return agent
    import batch

    return batch


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, harness.ROOT)
    try:
        import blq_cli_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    mod = _workload_module(args.workload)
    work = harness.make_workdir(args.workload)
    spark = None
    try:
        spark, start_s = harness.start_session(work, event_log=bool(args.trace))
        tracer = Tracer(spark)
        ctx = Context(spark, tracer, work, args.seed, args.seconds, bool(args.trace),
                      mod.MIN_PASSES)
        ctx.setup["start_s"] = start_s
        if args.trace:
            mod.install_spans(tracer)
        mod.run(ctx)
        peak = harness.peak_rss_mb(spark)
        tracer.unwrap_all()
        _stop(spark)
        spark = None
        per_tag = None
        if args.trace:
            import eventlog

            per_tag = eventlog.parse(eventlog.find_log(os.path.join(work, "eventlog")))
        result = _result(ctx, mod, args, peak, per_tag)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(harness.WORK_ROOT)  # only when no other run is using it
    print(json.dumps(result), flush=True)
    return 0


def _result(ctx: Context, mod, args, peak_rss: float, per_tag) -> dict:
    setup_s = sum(ctx.setup.values())
    for e in ctx.errors[:10]:
        print(f"# failed: {e}", file=sys.stderr)
    fail_ratio = ctx.failed / max(ctx.attempted, 1)
    e2e = {"setup_s": setup_s, "pass_s": stats.median(ctx.passes)}
    ctx.tails.setdefault("op_tail_ms", stats.tail(ctx.op_ms))
    print("# setup: " + ", ".join(f"{k}={v:.3f}s" for k, v in ctx.setup.items()), file=sys.stderr)
    print(f"# {args.workload} seed={args.seed}: passes {[round(p, 3) for p in ctx.passes]} s, "
          f"{ctx.attempted} operations, fail_ratio={fail_ratio:.4f}", file=sys.stderr)
    for name in ("ingest_p50_ms", "read_p50_ms", "store_bytes_per_log_byte"):
        if name in ctx.extra:
            print(f"# {name} = {ctx.extra[name]:.4f}", file=sys.stderr)
    for name, t in ctx.tails.items():
        print(stats.format_tail(name, t, "ms"), file=sys.stderr)
    if not args.trace:
        out = {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in e2e.items()}
    else:
        layer = {k: 0.0 for k in metrics.PER_LAYER}
        layer.update({
            "session.start_s": ctx.setup.get("start_s", 0.0),
            "session.warm_s": ctx.setup.get("warm_s", 0.0),
            "session.seed_s": ctx.setup.get("seed_s", 0.0),
            "fail_ratio": fail_ratio,
            "op_p50_ms": stats.median(ctx.op_ms),
            "peak_rss_mb": peak_rss,
        })
        layer.update({k: v for k, v in ctx.extra.items() if k in layer})
        layer.update({k: t[1] for k, t in ctx.tails.items() if t is not None})
        layer.update(mod.layer_metrics(ctx, per_tag))
        if ctx.traced_passes and ctx.untraced_passes:
            tr, un = stats.median(ctx.traced_passes), stats.median(ctx.untraced_passes)
            print(stats.overhead_line("pass_s", tr, un, "s"), file=sys.stderr)
            layer["tracing_overhead_pct"] = 100.0 * (tr - un) / un
        out = {k: {"value": v, "unit": metrics.PER_LAYER[k]} for k, v in layer.items()}
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": out,
    }


if __name__ == "__main__":
    sys.exit(main())
