"""Pins the span recorder, the event-log parser and the LSH oracle's hash.

    python3 -m pytest kgbench/test_spans.py -q

The parser is checked on tiny RDD jobs whose stage and task counts are
fixed by construction, so no optimizer decision can move them.
"""

from __future__ import annotations

import sys
from operator import add
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import lsh_reference  # noqa: E402
import spans  # noqa: E402


def test_span_times_wall_self_and_cover():
    timeline = [
        (0.0, ("a",)),
        (1.0, ("a", "b:build")),
        (3.0, ("a",)),
        (4.0, ()),
        (6.0, ("c",)),
        (7.0, ()),
    ]
    wall, self_, covered = spans.span_times(timeline)
    assert wall == {"a": 4.0, "b": 2.0, "c": 1.0}
    assert self_ == {"a": 2.0, "b": 2.0, "c": 1.0}
    assert covered == 5.0


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("kgbench_spans_test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .config("spark.eventLog.compress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    tracer = spans.Tracer(sc)
    with tracer.job():
        with tracer.span("extract"):
            # one job, one stage, two tasks
            sc.parallelize(range(10), 2).map(lambda x: x + 1).count()
        with tracer.span("dedup"):
            with tracer.span("dedup", build=True):
                # one job, two stages: three map tasks, two reduce tasks
                sc.parallelize(range(12), 3).map(lambda x: (x % 3, 1)).reduceByKey(
                    add, 2
                ).count()
        sc.parallelize(range(4), 1).count()  # inside the job, outside every span
    sc.parallelize(range(4), 1).count()  # outside the job: no description
    hashes = {
        s: spark.sql(f"SELECT xxhash64('{s}') AS h").collect()[0]["h"]
        for s in ("", "a", "spark window merge", "x" * 40)
    }
    timeline = list(tracer.timeline)
    spark.stop()
    return spans.parse_event_log(str(log_dir)), timeline, hashes


def test_parser_counts_per_label(traced):
    stats, _, _ = traced
    extract, dedup = stats["extract"], stats["dedup"]
    assert (extract["jobs"], extract["build_jobs"], extract["stages"], extract["tasks"]) == (1, 0, 1, 2)
    assert (dedup["jobs"], dedup["build_jobs"], dedup["stages"], dedup["tasks"]) == (1, 1, 2, 5)
    assert dedup["shuffle_mb"] > 0
    for layer in ("extract", "dedup"):
        assert stats[layer]["tasks"] >= 1
        assert stats[layer]["task_s"] >= 0
        assert stats[layer]["task_skew"] >= 1.0
    assert stats[spans.UNLABELLED]["jobs"] == 1
    assert stats[None]["jobs"] >= 1


def test_timeline_covers_the_spans(traced):
    _, timeline, _ = traced
    wall, self_, covered = spans.span_times(timeline)
    assert set(wall) == {"extract", "dedup"}
    assert self_["dedup"] == pytest.approx(wall["dedup"])
    assert 0 < covered <= timeline[-1][0] - timeline[0][0]


def test_xxh64_matches_spark(traced):
    _, _, hashes = traced
    for text, h in hashes.items():
        assert lsh_reference.xxh64(text.encode("utf-8")) == h
