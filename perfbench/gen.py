"""Seeded input generators: the ten gate tables, the build-log history
the agent store is seeded from, and the logs each agent iteration
ingests. Every generator takes its seed explicitly; the same seed gives
byte-identical inputs. Ground truth (error counts, fingerprint sets) is
computed here from the construction, never read back from the program.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- gate tables ---------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables the gates read (same names, columns and value
    domains as the repository's gate test tables) at scale factor `sf`.
    Keys are dense, so every gate's unique-key ordering holds."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 10), int(50_000 * sf)
    n_vec = max(int(20_000 * sf), 200)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(rng.choice(_ADJ, n_part), " "), rng.choice(_NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    # event ts increase with event_id over 30 days, microsecond jitter
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": base + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32),
    })


# -- build logs ----------------------------------------------------------------

FORMATS = ("gcc", "mypy", "eslint", "rustc")
_KINDS_PER_FORMAT = 40
_SRC_EXT = {"gcc": "c", "mypy": "py", "eslint": "js", "rustc": "rs"}
_MSG_WORDS = (
    "missing declared value type unused import module symbol expected "
    "return borrow mutable reference pointer cast implicit shadowed "
    "unreachable deprecated argument field"
).split()


def fingerprint(tool: str, key: str | None, message: str) -> str:
    """The store's fingerprint contract: md5 of tool | code-or-rule |
    message with hex and digit runs folded and whitespace collapsed."""
    norm = re.sub(r"0x[0-9a-fA-F]+", "H", message)
    norm = re.sub(r"\d+", "N", norm)
    norm = re.sub(r"\s+", " ", norm).strip().lower()
    return hashlib.md5(f"{tool}|{key or ''}|{norm}".encode()).hexdigest()


@dataclass(frozen=True)
class Kind:
    """One diagnostic identity: a format, a severity and a digit-free
    message, so every occurrence shares one fingerprint."""

    fmt: str
    severity: str
    message: str
    key: str | None

    @property
    def fingerprint(self) -> str:
        return fingerprint(self.fmt, self.key, self.message)


def _kinds(fmt: str) -> list[Kind]:
    rng = random.Random(f"kinds-{fmt}")
    out = []
    for i in range(_KINDS_PER_FORMAT):
        msg = " ".join(rng.sample(_MSG_WORDS, 4)) + f" {chr(97 + i % 26)}{chr(97 + i // 26)}"
        sev = "error" if i % 3 else "warning"
        key = {
            "gcc": None,
            "mypy": f"code-{chr(97 + i % 26)}" if sev == "error" else None,
            "eslint": f"rule-{chr(97 + i % 26)}{chr(97 + i // 26)}",
            "rustc": f"E{100 + i:04d}" if sev == "error" else None,
        }[fmt]
        out.append(Kind(fmt, sev, msg, key))
    return out


KINDS = {f: _kinds(f) for f in FORMATS}


@dataclass
class BuildLog:
    """A generated log and what a correct parse of it must find."""

    fmt: str
    text: str
    kinds: list[Kind] = field(default_factory=list)  # one per diagnostic

    @property
    def n_errors(self) -> int:
        return sum(k.severity == "error" for k in self.kinds)

    @property
    def fingerprints(self) -> set[str]:
        return {k.fingerprint for k in self.kinds}


def _diag_line(k: Kind, path: str, line: int, col: int) -> list[str]:
    if k.fmt == "gcc":
        return [f"{path}:{line}:{col}: {k.severity}: {k.message}"]
    if k.fmt == "mypy":
        tail = f"  [{k.key}]" if k.key else ""
        return [f"{path}:{line}: {k.severity}: {k.message}{tail}"]
    if k.fmt == "eslint":
        return [f"  {line}:{col}  {k.severity}  {k.message}  {k.key}"]
    head = f"{k.severity}[{k.key}]" if k.key else k.severity
    return [f"{head}: {k.message}", f" --> {path}:{line}:{col}", ""]


# (format, diagnostics, chatter lines) of the i-th log of a session, the
# same for every seed: every format, on both sides of the store's 4 KiB
# inline output threshold, so a run's timed iterations do the same work
# whatever the seed draws
LOG_SHAPES = (("gcc", 12, 30), ("mypy", 30, 120), ("eslint", 8, 24), ("rustc", 24, 96))


def build_log(rng: random.Random, i: int) -> BuildLog:
    """The i-th build log of a session, shaped by LOG_SHAPES. Diagnostics
    come from a shared per-format pool with skewed popularity, so
    consecutive runs overlap in fingerprints."""
    fmt, n_diag, chatter = LOG_SHAPES[i % len(LOG_SHAPES)]
    pool = KINDS[fmt]
    kinds = [pool[min(int(rng.expovariate(1 / 8)), len(pool) - 1)] for _ in range(n_diag)]
    if not any(k.severity == "error" for k in kinds):
        kinds[0] = pool[1]  # every log fails the build at least once
    ext = _SRC_EXT[fmt]
    lines = [f"$ build --target {fmt} --jobs 4"]
    files = [f"src/mod{rng.randint(0, 30)}/unit{rng.randint(0, 99)}.{ext}" for _ in range(4)]
    by_file: dict[str, list[Kind]] = {}
    for k in kinds:
        by_file.setdefault(rng.choice(files), []).append(k)
    for path, ks in by_file.items():
        if fmt == "eslint":
            lines.append(f"/work/app/{path}")
        for k in ks:
            lines.extend(_diag_line(k, path, rng.randint(1, 900), rng.randint(1, 80)))
        if fmt == "eslint":
            lines.append("")
        for _ in range(chatter // len(by_file)):
            lines.append(f"   Compiling unit{rng.randint(0, 999)} step {rng.randint(0, 99)} of 99 ... ok")
    lines.append(f"build finished: {len(kinds)} diagnostics")
    return BuildLog(fmt, "\n".join(lines) + "\n", kinds)


# -- seeded store history ------------------------------------------------------

_TOOL_CATEGORY = {"gcc": "compile", "mypy": "typecheck", "eslint": "lint", "rustc": "compile"}


@dataclass
class History:
    """Ground truth of the exported history: per-fingerprint run counts
    and the newest run's diagnostics."""

    n_events: int
    fp_runs: dict[str, int]
    last: BuildLog


def write_history_export(root: str, seed: int, n_runs: int = 1000) -> History:
    """Write a hive-partitioned flat-events export (the `sync_to` layout)
    of `n_runs` past runs over 30 days, about 50 events each, drawn from
    the same diagnostic pools as the live logs."""
    rng = random.Random(seed)
    start = dt.datetime(2025, 6, 1)
    cols: dict[str, list] = {c: [] for c in (
        "id", "invocation_id", "run_serial", "timestamp", "event_index",
        "event_type", "severity", "ref_file", "ref_line", "ref_column",
        "message", "code", "rule", "tool_name", "category", "fingerprint",
        "format_used", "source_name", "cmd", "exit_code", "git_branch",
        "git_commit", "date",
    )}
    fp_runs: dict[str, int] = {}
    for r in range(n_runs):
        fmt = rng.choice(FORMATS)
        ts = start + dt.timedelta(seconds=int(r * 30 * 86_400 / n_runs) + rng.randint(0, 60))
        inv = f"hist-{seed}-{r:05d}"
        kinds = [KINDS[fmt][min(int(rng.expovariate(1 / 8)), _KINDS_PER_FORMAT - 1)]
                 for _ in range(rng.randint(10, 90))]
        for k in {k.fingerprint for k in kinds}:
            fp_runs[k] = fp_runs.get(k, 0) + 1
        for i, k in enumerate(kinds, start=1):
            row = {
                "id": f"{inv}-{i}", "invocation_id": inv, "run_serial": r + 1,
                "timestamp": ts, "event_index": i, "event_type": "diagnostic",
                "severity": k.severity, "ref_file": f"src/mod{i % 7}/unit{i}.{_SRC_EXT[fmt]}",
                "ref_line": rng.randint(1, 900), "ref_column": rng.randint(1, 80),
                "message": k.message,
                "code": None if fmt == "eslint" else k.key,
                "rule": k.key if fmt == "eslint" else None,
                "tool_name": fmt, "category": _TOOL_CATEGORY[fmt],
                "fingerprint": k.fingerprint, "format_used": fmt,
                "source_name": f"{fmt}-build", "cmd": f"build --target {fmt}",
                "exit_code": 1 if k.severity == "error" else 0,
                "git_branch": "main", "git_commit": f"{r:040x}",
                "date": ts.date().isoformat(),
            }
            for c, v in row.items():
                cols[c].append(v)
    table = pa.table({
        **{c: v for c, v in cols.items() if c not in ("timestamp", "date")},
        "timestamp": pa.array(cols["timestamp"], pa.timestamp("us")),
        "date": cols["date"],
    })
    pq.write_to_dataset(table, root, partition_cols=["date"])
    return History(table.num_rows, fp_runs, BuildLog(fmt, "", kinds))
