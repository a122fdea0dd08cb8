"""Writes beside reads on the maintained-structure core: parquet
micro-batches land in a feed directory, ``index_maintenance_stream``
MERGEs each into an ``IncrementalRetrievalIndex`` at its default
trigger, and seeded BM25 queries read the maintained state after each
commit.

Document text is ``documents_v2_from`` over a *generation id*: a
re-sent document keeps its ``doc_id`` but takes the text of a fresh
generation id, so every re-send is a real update (delete-then-insert
of its postings). Each file also redelivers one of its rows, for
``last_wins`` to collapse.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from syncbench import gen
from worker_spark.operators.retrieval import bm25_topk
from worker_spark.sources.synth_corpus import documents_v2_from
from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex, index_maintenance_stream

GEN_STRIDE = 10_000_000  # generation ids of re-sent versions start here


class IndexStream:
    def __init__(self, spark, root: str, tracer, seed: int, preload: int, batch_docs: int, resend_share: float):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.preload = preload
        self.batch_docs = batch_docs
        self.resend_share = resend_share
        self.index = IncrementalRetrievalIndex(spark, os.path.join(root, "index"))
        self.feed = os.path.join(root, "feed")
        self.staged = os.path.join(root, "staged")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.gen_of: dict[int, int] = {}  # doc_id -> generation id of its latest text
        self.batches: list[tuple[str, list[tuple[int, int]]]] = []
        self.entered: list[float] = []  # when each batch function was entered
        if tracer.enabled:
            self._trace_apply()

    def _trace_apply(self) -> None:
        """Span the index's ``apply_batch`` and note when each batch
        function is entered. The stream calls the method through the
        instance, so an instance attribute intercepts it."""
        inner = self.index.apply_batch

        def apply_batch(docs, *args, **kwargs):
            self.entered.append(time.time())
            with self.tr.span("streaming.retrieval_index.apply_batch"):
                return inner(docs, *args, **kwargs)

        self.index.apply_batch = apply_batch

    def _texts(self, gen_ids: list[int]) -> dict[int, str]:
        ids = self.spark.createDataFrame([(g,) for g in gen_ids], "doc_id long")
        return {r["doc_id"]: r["text"] for r in documents_v2_from(ids, materialize=False).collect()}

    def corpus(self):
        """The last-wins corpus: every doc_id with its latest text."""
        pairs = self.spark.createDataFrame(sorted(self.gen_of.items()), "doc_id long, gen_id long")
        texts = documents_v2_from(pairs.select(F.col("gen_id").alias("doc_id")), materialize=False)
        return pairs.join(texts.withColumnRenamed("doc_id", "gen_id"), "gen_id").select("doc_id", "text")

    def setup(self, n_batches: int, warm_query: str) -> None:
        """Stage the preload and every batch as parquet files, so landing
        a batch is one rename. The preload is the feed's first file and
        one query runs after it, so the stream path and the query path
        have each run once before the first timed batch."""
        os.makedirs(self.feed, exist_ok=True)
        os.makedirs(self.staged, exist_ok=True)
        rng = gen.rng_for(self.seed, "index_batches")
        next_id, next_gen = self.preload, GEN_STRIDE
        n_resend = max(1, round(self.batch_docs * self.resend_share))
        plan = [[(i, i) for i in range(self.preload)]]
        for _ in range(n_batches):
            pairs = []
            for did in rng.sample(range(next_id), n_resend):
                pairs.append((did, next_gen))
                next_gen += 1
            for _ in range(self.batch_docs - n_resend):
                pairs.append((next_id, next_id))
                next_id += 1
            # an identical redelivery of one row: last_wins collapses it
            # without depending on which of two versions it elects
            pairs.append(pairs[0])
            plan.append(pairs)
        # one generator job for every staged file
        text = self._texts([g for pairs in plan for _d, g in pairs])
        for b, pairs in enumerate(plan):
            path = os.path.join(self.staged, f"batch-{b:05d}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([d for d, _g in pairs], pa.int64()),
                        "text": pa.array([text[g] for _d, g in pairs], pa.string()),
                    }
                ),
                path,
            )
            self.batches.append((path, pairs))
        self.update(0)
        self.serve(warm_query)
        self.entered.clear()

    def update(self, b: int) -> tuple[float, float]:
        """Land staged file ``b`` (0 is the preload) and run the stream
        until it has committed. Returns (landed, committed) wall-clock
        times."""
        path, pairs = self.batches[b]
        landed = time.time()
        os.rename(path, os.path.join(self.feed, os.path.basename(path)))
        with self.tr.span("streaming.feed"):
            query = index_maintenance_stream(self.spark, self.feed, self.index, self.checkpoint)
            query.awaitTermination()
        committed = time.time()
        for did, g in pairs:
            self.gen_of[did] = g
        return landed, committed

    def serve(self, query: str) -> list:
        with self.tr.span("streaming.retrieval_index.bm25_topk"):
            return self.index.bm25_topk([query], k=10).collect()

    def check(self, queries: list[str]) -> dict[str, bool]:
        """Maintained top-k equals a batch BM25 over the last-wins
        corpus, and the index passes fsck."""
        got = self.index.bm25_topk(queries, k=10).collect()
        want = bm25_topk(self.corpus(), queries, k=10).collect()
        key = lambda r: (r["query"], r["rnk"], r["doc_id"], round(r["bm25"], 6))  # noqa: E731
        fsck_ok = True
        try:
            self.index.fsck()
        except RuntimeError:
            fsck_ok = False
        return {"bm25_matches_batch": sorted(map(key, got)) == sorted(map(key, want)), "fsck_clean": fsck_ok}
