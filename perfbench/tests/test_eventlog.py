"""The event-log fold against a small recorded log.

data/eventlog_small.jsonl is a real Spark 4.1 event log (local[2],
uncompressed, trimmed to the job, stage and task events with bulky fields
removed) of this application:

    spark.range(1000).repartition(2).write.parquet(t)      # no job group
    setJobGroup("scan");    noop write of spark.read.parquet(t)
    setJobGroup("shuffle"); spark.read.parquet(t).groupBy(id % 7).count().collect()
                            noop write of spark.range(100).cache()
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402

LOG = Path(__file__).resolve().parent / "data" / "eventlog_small.jsonl"


def totals():
    with open(LOG) as fh:
        return eventlog.fold(fh)


def test_groups_found():
    assert set(totals()) == {"", "scan", "shuffle"}


def test_ungrouped_write_job():
    t = totals()[""]
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 4)  # range → exchange → 2 writers
    assert t["bytes_written"] > 0 and t["shuffle_write_bytes"] > 0
    assert t["scan_records"] == 0


def test_file_scans_count_every_row_once():
    t = totals()
    for g in ("scan", "shuffle"):
        assert t[g]["scan_records"] == 1000  # the table has 1000 rows
        assert t[g]["scan_bytes"] == t[g]["bytes_read"] > 0
    assert t["scan"]["shuffle_write_bytes"] == 0 < t["shuffle"]["shuffle_write_bytes"]


def test_task_totals_match_the_log():
    import json

    tasks = sum(1 for line in open(LOG) if json.loads(line)["Event"] == "SparkListenerTaskEnd")
    jobs = sum(1 for line in open(LOG) if json.loads(line)["Event"] == "SparkListenerJobStart")
    t = totals()
    assert sum(v["tasks"] for v in t.values()) == tasks
    assert sum(v["jobs"] for v in t.values()) == jobs
    assert all(v["cpu_s"] > 0 for v in t.values())


def test_fold_dir_sums_files(tmp_path):
    for name in ("app-1", "app-2"):
        (tmp_path / name).write_text(LOG.read_text())
    both = eventlog.fold_dir(tmp_path)
    one = totals()
    assert both["scan"]["scan_records"] == 2 * one["scan"]["scan_records"]
    assert eventlog.group(both, "absent") == dict.fromkeys(eventlog.FIELDS, 0.0)
