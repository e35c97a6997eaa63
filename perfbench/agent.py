"""agent_session: one closed-loop client. Each iteration ingests one
generated build log through `execution.run_command(store, ["cat", log])`
and then issues a fixed mix of read tools against the store, checking
every answer against the generator's ground truth."""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter, defaultdict

import eventlog
import gen
import harness
import stats
from metrics import READ_TOOLS

HISTORY_RUNS = 1000
HISTORY_N = 10
FP_HISTORY_N = 20
# untraced timed passes; a pass is one iteration of 12-15 s on a 4-vCPU
# host, and set-up plus one pass already fills a run's time budget
MIN_PASSES = 1


class CheckFailed(AssertionError):
    pass


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class AgentSession:
    def __init__(self, spark, tracer, work: str, seed: int):
        from blq_cli_spark import services
        from blq_cli_spark.sources import execution
        from blq_cli_spark.sources.store import LogStore

        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.services, self.execution, self.LogStore = services, execution, LogStore
        self.rng = random.Random(seed)
        self.proj = os.path.join(work, "project")
        self.logs = os.path.join(work, "logs")
        os.makedirs(self.proj)
        os.makedirs(self.logs)
        self.store = None
        self.history = None
        self.live_fp_runs: Counter = Counter()
        self.prev = None  # (run_serial, BuildLog) of the previous ingest
        self.n_logs = 0
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.pass_s: list[float] = []
        self.log_bytes = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- set-up ---------------------------------------------------------------

    def seed_store(self) -> float:
        """Seed a fresh store from a generated ~1k-run export; returns the
        seconds of `LogStore(...)` plus `migrate_from_export` only."""
        export = os.path.join(self.work, "export")
        self.history = gen.write_history_export(export, self.seed, HISTORY_RUNS)
        t0 = time.perf_counter()
        self.store = self.LogStore(self.spark, os.path.join(self.work, "store"))
        n = self.execution.migrate_from_export(self.store, export)
        seconds = time.perf_counter() - t0
        _expect(n == HISTORY_RUNS, f"migrated {n} runs, expected {HISTORY_RUNS}")
        shutil.rmtree(export)
        return seconds

    # -- one iteration --------------------------------------------------------

    def _op(self, kind: str, name: str, fn) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{kind}.{name}"):
                fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
        self.latency[name].append((time.perf_counter() - t0) * 1000.0)

    def iteration(self) -> None:
        log = gen.build_log(self.rng, self.n_logs)
        path = os.path.join(self.logs, f"build{self.n_logs}.log")
        self.n_logs += 1
        with open(path, "w") as fh:
            fh.write(log.text)
        self.log_bytes += len(log.text.encode())
        cur: dict = {}
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            self._op("ingest", "ingest", lambda: cur.update(self._ingest(path, log)))
            if "serial" in cur:
                self._reads(cur["serial"], log)
        self.pass_s.append(time.perf_counter() - t0)
        if "serial" in cur:
            self.prev = (cur["serial"], log)

    def _ingest(self, path: str, log: gen.BuildLog) -> dict:
        run = self.execution.run_command(
            self.store, ["cat", path], source_name=f"{log.fmt}-build", cwd=self.proj
        )
        self.live_fp_runs.update(log.fingerprints)
        return {"serial": int(run["run_serial"])}

    def _reads(self, serial: int, log: gen.BuildLog) -> None:
        svc, store = self.services, self.store
        prev_serial, prev_log = self.prev

        def query_events():
            total, rows = svc.query_events(store, severities=["error"], limit=50)
            _expect(total == log.n_errors, f"query_events total {total} != {log.n_errors}")
            _expect(len(rows) == min(50, log.n_errors), "query_events page size")

        def history_with_counts():
            rows = svc.history_with_counts(store, n=HISTORY_N).collect()
            _expect(len(rows) == HISTORY_N, f"history length {len(rows)}")
            _expect(int(rows[0]["run_serial"]) == serial, "history head is not the latest run")
            _expect(int(rows[0]["n_errors"]) == log.n_errors, "history n_errors")

        def report_data():
            d = svc.report_data(store, baseline_serial=prev_serial)
            _expect(d["run_serial"] == serial, "report run")
            _expect(d["total_errors"] == log.n_errors, f"report errors {d['total_errors']}")
            _expect(d["baseline_errors"] == prev_log.n_errors, "report baseline errors")

        def ci_check():
            d = svc.ci_check(store, prev_serial, serial)
            new = len(log.fingerprints - prev_log.fingerprints)
            fixed = len(prev_log.fingerprints - log.fingerprints)
            _expect((d["new"], d["fixed"]) == (new, fixed),
                    f"ci_check new/fixed {d['new']}/{d['fixed']} != {new}/{fixed}")

        def get_output():
            rows = svc.get_output(store, serial, grep="error").collect()
            lines = log.text.rstrip("\r\n").split("\n")
            want = sum("error" in ln.lower() for ln in lines)
            _expect(sum(bool(r["is_match"]) for r in rows) == want, "get_output matches")

        def fingerprint_history():
            fp = min(log.fingerprints)
            rows = svc.fingerprint_history(store, fp, n=FP_HISTORY_N)
            want = min(FP_HISTORY_N, self.history.fp_runs.get(fp, 0) + self.live_fp_runs[fp])
            _expect(len(rows) == want, f"fingerprint_history {len(rows)} != {want}")

        def sql():
            r = store.sql(
                f"SELECT count(*) AS n, min(run_serial) AS lo FROM blq_errors({log.n_errors})"
            ).collect()[0]
            _expect((r["n"], r["lo"]) == (log.n_errors, serial), "blq_errors macro")

        def count_then_fetch():
            total, rows = store.query().filter_dsl(
                [f"run_serial={serial}", "severity=error"]
            ).count_then_fetch()
            _expect(total == len(rows) == log.n_errors, f"count_then_fetch {total}")

        for fn in (query_events, history_with_counts, report_data, ci_check,
                   get_output, fingerprint_history, sql, count_then_fetch):
            self._op("read", fn.__name__, fn)

    # -- metrics --------------------------------------------------------------

    def read_latencies(self) -> list[float]:
        return [v for t in READ_TOOLS for v in self.latency[t]]


def run(ctx) -> None:
    """Set up, warm, measure for ctx.seconds; fills ctx's result fields."""
    a = AgentSession(ctx.spark, ctx.tracer, ctx.work, ctx.seed)
    ctx.setup["seed_s"] = a.seed_store()
    # warm-up, checked but not timed: one full iteration, whose
    # ci_check/report baseline is the newest seeded run
    a.prev = (HISTORY_RUNS, a.history.last)
    a.iteration()
    ctx.setup["warm_s"] = a.pass_s[0]
    a.latency.clear()
    a.pass_s.clear()

    files0, bytes0 = harness.tree_stats(a.store.root)
    a.log_bytes = 0
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline or i < ctx.min_passes:
        ctx.begin_pass(i)
        a.iteration()
        ctx.end_pass(a.pass_s[-1])
        i += 1
    files1, bytes1 = harness.tree_stats(a.store.root)
    ev_files, _ = harness.tree_stats(os.path.join(a.store.root, "events"))

    ctx.attempted, ctx.failed, ctx.errors = a.attempted, a.failed, a.errors
    reads = a.read_latencies()
    ctx.passes = a.pass_s
    ctx.op_ms = reads
    ingest = a.latency["ingest"]
    n_ingest = len(ingest)
    ctx.extra.update({
        "ingest_p50_ms": stats.median(ingest),
        "read_p50_ms": stats.median(reads),
        "store_bytes_per_log_byte": (bytes1 - bytes0) / max(a.log_bytes, 1),
        "store.files_per_ingest": (files1 - files0) / n_ingest,
        "store.events_files": ev_files,
        "store.bytes_on_disk_mb": bytes1 / 1e6,
    })
    ctx.tails["ingest_tail_ms"] = stats.tail(ingest)
    ctx.tails["read_tail_ms"] = stats.tail(reads)
    for t in READ_TOOLS:
        ctx.extra[f"services.{t}_p50_ms"] = stats.median(a.latency[t])


def install_spans(tracer) -> None:
    from blq_cli_spark.plans import query, sql_macros
    from blq_cli_spark.sources import execution, logparse
    from blq_cli_spark.sources.store import LogStore

    tracer.wrap(execution, "run_command", "execution.run_command")
    tracer.wrap(logparse, "parse_content", "logparse.parse_content")
    tracer.wrap(LogStore, "append_run", "store.append_run")
    tracer.wrap(LogStore, "start_attempt", "store.attempt")
    tracer.wrap(LogStore, "complete_attempt", "store.attempt")
    tracer.wrap(LogStore, "write_output", "store.write_output")
    tracer.wrap(query.LogQuery, "filter_dsl", "plans.build")
    tracer.wrap(query.LogQuery, "to_spark", "plans.build")
    tracer.wrap(sql_macros, "expand_macros", "plans.build")


def layer_metrics(ctx, per_tag) -> dict[str, float]:
    tr = ctx.tracer

    def p50_ms(name: str, self_only: bool = False) -> float:
        secs = [tr.self_seconds(s) if self_only else s.seconds for s in tr.named(name)]
        return stats.median(secs) * 1000.0

    def jobs(spans) -> int:
        return sum(eventlog.rollup(per_tag, tr.subtree_ids(s)).jobs for s in spans)

    ingests = tr.named("execution.run_command")
    reads = [s for s in tr.spans if s.name.startswith("read.")]
    passes = tr.named("pass")
    attempt_ms = [
        sum(d.seconds for d in tr.descendants(s) if d.name == "store.attempt") * 1000.0
        for s in ingests
    ]
    plans_s = sum(s.seconds for s in tr.named("plans.build"))
    out = {
        # self times: the subprocess and git probes, and the run and
        # event appends, without the child spans reported beside them
        "execution.run_command_ms": p50_ms("execution.run_command", self_only=True),
        "logparse.parse_content_ms": p50_ms("logparse.parse_content"),
        "store.append_run_ms": p50_ms("store.append_run", self_only=True),
        "store.attempt_ms": stats.median(attempt_ms),
        "store.write_output_ms": p50_ms("store.write_output"),
        "store.spark_jobs_per_ingest": jobs(ingests) / len(ingests),
        "services.spark_jobs_per_read": jobs(reads) / len(reads),
        "plans.build_ms": plans_s * 1000.0 / len(reads),
    }
    out.update(eventlog.spark_per_pass(per_tag, [tr.subtree_ids(p) for p in passes]))
    return out

