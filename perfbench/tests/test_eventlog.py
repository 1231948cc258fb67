"""The event-log parser on a small recorded log: two noop-sink queries,
each run under its own job group (q_grouped_agg_udf under ``span-1``,
q_doc_metrics under ``span-2``), trimmed to the events the parser reads."""

from __future__ import annotations

import json
import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_two_queries.json")


def _tasks(group: str) -> list[dict]:
    """Task-end events of ``group``'s jobs, found without the parser."""
    with open(LOG) as f:
        events = [json.loads(line) for line in f]
    stages = {
        sid
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get("spark.jobGroup.id") == group
        for sid in e["Stage IDs"]
    }
    return [
        e for e in events
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages
    ]


def test_groups_and_job_counts():
    groups = eventlog.parse_file(LOG)
    assert set(groups) == {"span-1", "span-2"}
    assert groups["span-1"].jobs == 3
    assert groups["span-2"].jobs == 2
    for stats in groups.values():
        assert stats.task_failures == 0
        assert len(stats.job_intervals) == stats.jobs
        assert stats.stages == stats.tasks == stats.jobs


def test_task_metrics_match_raw_events():
    groups = eventlog.parse_file(LOG)
    for name, stats in groups.items():
        tasks = _tasks(name)
        metrics = [t["Task Metrics"] for t in tasks]
        assert stats.executor_run_ms == sum(m["Executor Run Time"] for m in metrics)
        assert stats.executor_cpu_ns == sum(m["Executor CPU Time"] for m in metrics)
        assert stats.input_rows == sum(m["Input Metrics"]["Records Read"] for m in metrics)
        assert stats.shuffle_write_bytes == sum(
            m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in metrics
        )
    # the grouped Arrow UDF shuffles its input; the Arrow projection doesn't
    assert groups["span-1"].shuffle_write_bytes > 0
    assert groups["span-1"].shuffle_read_bytes == groups["span-1"].shuffle_write_bytes
    assert groups["span-2"].shuffle_write_bytes == 0


def test_python_worker_metrics_come_from_python_nodes():
    groups = eventlog.parse_file(LOG)
    # "time to run Python workers" of ArrowAggregatePython / ArrowEvalPython
    assert groups["span-1"].python_ms == 2229
    assert groups["span-2"].python_ms == 717
    # rows out of the Python node only: 6 groups, one row per document
    assert groups["span-1"].python_rows == 6
    assert groups["span-2"].python_rows == 500
    # one parquet file listed by each query's scan
    assert groups["span-1"].files_read == 1
    assert groups["span-2"].files_read == 1


def test_covered_ms_is_the_clipped_union():
    assert eventlog.covered_ms([], 0, 100) == 0
    assert eventlog.covered_ms([(10, 20), (15, 30), (50, 60)], 0, 100) == 30
    assert eventlog.covered_ms([(-50, 20), (90, 200)], 0, 100) == 30
    assert eventlog.covered_ms([(0, 100)], 40, 60) == 20
