"""eventlog.parse on a fixture captured from a real local[2] run with AQE
off: job tag 1 ran `range(0, 100, 1, 3).collect()`, tag 2 ran
`range(0, 1000, 1, 2).repartition(3).collect()` (3 shuffle partitions),
and untagged jobs ran `range(10).collect()` and then built two gate
queries over sf0.001 tables (schema and listing jobs)."""

import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_per_tag_jobs_and_tasks():
    per_tag = eventlog.parse(FIXTURE)
    assert set(per_tag) == {"1", "2", None}
    one, two, untagged = per_tag["1"], per_tag["2"], per_tag[None]
    assert (one.jobs, one.tasks) == (1, 3)
    assert (two.jobs, two.tasks) == (1, 2 + 3)
    assert untagged.jobs >= 1 and untagged.shuffle_write_bytes == 0


def test_shuffle_is_attributed_to_the_shuffling_job():
    per_tag = eventlog.parse(FIXTURE)
    assert per_tag["1"].shuffle_write_bytes == per_tag["1"].shuffle_read_bytes == 0
    two = per_tag["2"]
    assert two.shuffle_write_bytes > 0
    assert two.shuffle_read_bytes == two.shuffle_write_bytes
    assert two.task_ms >= 0 and two.spill_bytes == 0


def test_rollup_sums_only_the_given_spans():
    per_tag = eventlog.parse(FIXTURE)
    both = eventlog.rollup(per_tag, {1, 2})
    assert (both.jobs, both.tasks) == (2, 8)
    assert eventlog.rollup(per_tag, {2}).tasks == 5
    assert eventlog.rollup(per_tag, set()).jobs == 0


def test_find_log_skips_in_progress_files(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    (tmp_path / "app-0").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-0")


def test_spark_per_pass_averages_over_passes():
    per_tag = eventlog.parse(FIXTURE)
    m = eventlog.spark_per_pass(per_tag, [{1}, {2}])
    assert (m["spark.jobs"], m["spark.tasks"]) == (1.0, 4.0)
    assert m["spark.shuffle_mb"] == 2 * per_tag["2"].shuffle_write_bytes / 1e6 / 2
