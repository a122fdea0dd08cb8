"""Tracer self-test: a ``file_feed_stream`` whose ``foreachBatch``
launches a known number of jobs must have at least that many charged
to its span. The same run counts the jobs
``statusTracker().getJobIdsForGroup(None)`` reports, which misses the
jobs Structured Streaming runs under its own job group."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from syncbench.tracer import Tracer
from worker_spark.streaming.feed import file_feed_stream

JOBS_IN_BATCH = 6
SCHEMA = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())])


def run(spark, work: str) -> dict:
    feed = os.path.join(work, "feed")
    os.makedirs(feed, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()), "text": ["a", "b", "c"]}),
        os.path.join(feed, "part-0.parquet"),
    )
    launched = []

    def apply_batch(batch, _batch_id):
        for _ in range(JOBS_IN_BATCH):
            launched.append(batch.count())

    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    tr = Tracer(spark, True)
    with tr.span("streaming.feed"):
        query = file_feed_stream(spark, feed, apply_batch, os.path.join(work, "checkpoint"), SCHEMA, "selftest")
        query.awaitTermination()
    tr.harvest()
    charged = tr.jobs_under(0)
    ungrouped = len(set(tracker.getJobIdsForGroup(None)) - ungrouped_before)
    return {
        "passed": len(launched) == JOBS_IN_BATCH and charged >= JOBS_IN_BATCH,
        "jobs_launched_in_batch": len(launched),
        "jobs_charged_to_span": charged,
        "jobs_seen_by_getJobIdsForGroup_None": ungrouped,
    }
