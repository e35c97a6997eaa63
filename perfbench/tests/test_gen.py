"""The generators' ground truth agrees with what a correct parse finds,
and the same seed gives the same inputs."""

import os
import random

import gen
import pyarrow.parquet as pq
from blq_cli_spark.sources import logparse


def test_build_logs_parse_to_their_ground_truth():
    rng = random.Random(7)
    sizes = []
    for i in range(120):
        log = gen.build_log(rng, i)
        events = logparse.parse_content(log.text)
        sizes.append(len(log.text))
        assert len(events) == len(log.kinds)
        assert sum(e["severity"] == "error" for e in events) == log.n_errors >= 1
        assert {e["fingerprint"] for e in events} == log.fingerprints
        assert {e["format_used"] for e in events} == {log.fmt}
    # outputs straddle the store's 4 KiB inline threshold
    assert min(sizes) < 4096 < max(sizes)


def test_fingerprint_matches_the_parser_contract():
    for kinds in gen.KINDS.values():
        for k in kinds[:5]:
            assert k.fingerprint == logparse.fingerprint_of(k.fmt, k.key, k.message)


def test_same_seed_same_logs():
    a = [gen.build_log(random.Random(3), 1).text for _ in range(2)]
    assert a[0] == a[1]
    assert gen.build_log(random.Random(4), 1).text != a[0]


def test_history_export_is_seeded(tmp_path):
    h1 = gen.write_history_export(str(tmp_path / "a"), seed=5, n_runs=20)
    h2 = gen.write_history_export(str(tmp_path / "b"), seed=5, n_runs=20)
    assert h1.fp_runs == h2.fp_runs and h1.n_events == h2.n_events
    t = pq.read_table(str(tmp_path / "a"))
    assert t.num_rows == h1.n_events
    assert len(set(t.column("invocation_id").to_pylist())) == 20


def test_tables_are_seeded(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 0.001, seed=9)
    gen.write_tables(str(tmp_path / "b"), 0.001, seed=9)
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta = pq.read_table(os.path.join(tmp_path, "a", f"{name}.parquet"))
        tb = pq.read_table(os.path.join(tmp_path, "b", f"{name}.parquet"))
        assert ta.equals(tb)
