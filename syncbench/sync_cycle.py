"""The paper's sync cycle driven through the engine's public functions:
upstream list -> diff -> outbox -> fetch (simulated) -> extraction ->
store -> links -> discovery -> search-document build -> sink ->
settledness gate, on ``BucketedParquetStateStore``.

The call sequence is the one ``tests/test_end_to_end_sync.py`` runs.
Each call into a layer sits in a tracer span named after its module.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from syncbench import gen
from worker_spark.plans import outbox as OB
from worker_spark.plans import sync as S
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.plans.search_documents import build_search_documents
from worker_spark.plans.sinks import write_search_documents
from worker_spark.schemas import (
    ARTICLE_DATA,
    ARTICLE_LIST,
    ARTICLE_PLACE,
    BIBLIOGRAPHY,
    CONCEPTS,
    JOB_OUTBOX,
    PLACES,
)
from worker_spark.sources.fetch_sim import fetch_articles

KEYS = ["dictionary", "article_id"]
FETCH_CHUNK = 1000  # the reference's backfill chunk (BASELINE.md)
BATCH_INDEX_KEYS = 5000  # the reference's batch_index coalesce target
SEEDED_AT = datetime.datetime(2026, 1, 1)


def _catalog_resolver(article_resolver):
    """Fetch resolver for crawl jobs: articles resolve upstream, known
    dimension ids resolve from the catalog, everything else is absent."""
    n_bibl, n_places = gen.N_BIBL, gen.N_PLACES

    def resolve(kind: str, ident: int):
        if kind == "bibliography":
            return {"id": ident} if ident <= n_bibl else None
        if kind == "place":
            return {"id": ident} if ident <= n_places else None
        return article_resolver(kind, ident)

    return resolve


class SyncCycle:
    """One state store, one upstream, one sink root."""

    def __init__(self, spark, root: str, upstream: gen.Upstream, tracer, cpus: int, n_buckets: int):
        self.spark = spark
        self.up = upstream
        self.tr = tracer
        self.cpus = cpus
        self.store = BucketedParquetStateStore(spark, os.path.join(root, "state"), n_buckets)
        self.sink_root = os.path.join(root, "sink")
        self.fetch_calls = {"found": 0, "fetched": 0}
        self.crawl_calls = 0
        self.crawl_found = 0
        self.gate_opened = 0

    def call(self, layer: str, fn, *args, **kwargs):
        with self.tr.span(layer):
            return fn(*args, **kwargs)

    # --- state ----------------------------------------------------------

    def seed(self) -> None:
        """Write the state a finished backfill leaves: the known
        bibliography, places and concepts; every upstream article at its
        current revision, idle, fetched through the fetch stage, with
        its links and inline refs; and a processed outbox history (one
        fetch and one batch_index row per article). Every write names
        all buckets as touched, which skips the touched-bucket job."""
        spark, up = self.spark, self.up
        every = list(range(self.store.n_buckets))

        def write(table, df, keys=None):
            self.store.write(table, df, keys=keys, touched=every)

        bib = [(i, c, a, t, y, [], SEEDED_AT, "idle", SEEDED_AT) for (i, c, a, t, y) in gen.bibliography_rows()]
        write("bibliography", spark.createDataFrame(bib, BIBLIOGRAPHY), keys=["id"])
        places = [(i, n, f, t, p, 0, None, 0, SEEDED_AT, "idle", SEEDED_AT) for (i, n, f, t, p) in gen.place_rows()]
        write("places", spark.createDataFrame(places, PLACES), keys=["id"])
        write("concepts", spark.createDataFrame([("no", "norr.", "norrønt"), ("nn", "norr.", "norrønt")], CONCEPTS))

        keys = sorted(up.revs)
        jobs = spark.createDataFrame([(f"{d}:{i}",) for d, i in keys], "job_key string")
        fetched = (
            fetch_articles(jobs, up.resolver(), num_partitions=self.cpus)
            .select("dictionary", F.col("article_id").alias("id"), F.from_json("data_json", ARTICLE_DATA).alias("data"))
            .localCheckpoint(eager=True)
        )
        lst = self.list_in().select("dictionary", F.col("article_id").alias("id"), "revision", "updated_at")
        write(
            "articles",
            fetched.join(lst, ["dictionary", "id"]).withColumn("sync_status", F.lit("idle")),
            keys=["dictionary", "id"],
        )
        analyzed = S.analyze_articles(fetched)
        write("article_bibliography", S.article_bibliography_rows(analyzed), keys=KEYS)
        write("article_place", S.article_place_rows(analyzed), keys=KEYS)
        write("inline_ref_parse", S.inline_ref_rows(fetched), keys=KEYS)
        hist = [
            (1 + j * len(keys) + k, job_type, f"{d}:{i}", "{}", SEEDED_AT, SEEDED_AT)
            for j, job_type in enumerate(("fetch_article", "batch_index"))
            for k, (d, i) in enumerate(keys)
        ]
        write("outbox", spark.createDataFrame(hist, JOB_OUTBOX), keys=["id"])

    # --- the cycle --------------------------------------------------------

    def list_in(self):
        lst = self.spark.createDataFrame(self.up.list_rows(), ARTICLE_LIST)
        return lst.select("dictionary", "article_id", "revision", "updated_at")

    def diff_and_enqueue(self, upstream_list) -> list:
        """Diff the list against the store and append fetch jobs.
        Returns the stored keys missing upstream (dropped articles)."""
        diff = self.call("plans.sync.diff", S.diff_job, upstream_list, self.store.read("articles"))
        jobs = self.call("plans.sync.diff", S.fetch_jobs_from_diff, diff)
        outbox = self.call("plans.outbox", OB.append_jobs, self.store.read("outbox"), jobs)
        with self.tr.span("plans.sync.diff"):
            gone = (
                diff.filter(F.col("classification") == "missing_recheck")
                .select("dictionary", F.col("article_id").alias("id"))
                .collect()
            )
        self.store.write("outbox", outbox)
        return gone

    def fetch_store_discover(self, upstream_list, gone_df) -> int:
        """Drain up to one fetch chunk, fetch, store the articles with
        links and inline refs, and enqueue discovery follow-ups.
        Returns the number of jobs drained."""
        store = self.store
        with self.tr.span("plans.outbox"):
            drained = OB.drain_budgeted(self.store.read("outbox"), "fetch_article", FETCH_CHUNK)
        with self.tr.span("sources.fetch_sim"):
            fetched_raw = fetch_articles(drained.select("job_key"), self.up.resolver(), num_partitions=self.cpus)
            found = {r["found"]: r["count"] for r in fetched_raw.groupBy("found").count().collect()}
        if not found:
            return 0
        self.fetch_calls["fetched"] += sum(found.values())
        self.fetch_calls["found"] += found.get(True, 0)
        fetched = fetched_raw.filter(F.col("found")).select(
            "dictionary", F.col("article_id").alias("id"), F.from_json("data_json", ARTICLE_DATA).alias("data")
        )
        analyzed = self.call("plans.sync.analyze", S.analyze_articles, fetched)
        list_meta = upstream_list.select("dictionary", F.col("article_id").alias("id"), "revision", "updated_at")
        stored_rows = analyzed.join(list_meta, ["dictionary", "id"]).select(
            "dictionary", "id", "data", "revision", "updated_at", F.lit("pending_index").alias("sync_status")
        )
        store.upsert("articles", stored_rows, keys=["dictionary", "id"])
        gone_links = gone_df.select("dictionary", F.col("id").alias("article_id"))
        for table, rows_fn, layer in (
            ("article_bibliography", S.article_bibliography_rows, "plans.sync.links"),
            ("article_place", S.article_place_rows, "plans.sync.links"),
            ("inline_ref_parse", S.inline_ref_rows, "plans.sync.inline_refs"),
        ):
            src = fetched if table == "inline_ref_parse" else analyzed
            rows = self.call(layer, rows_fn, src)
            kept = self.store.read(table).join(gone_links, KEYS, "left_anti")
            store.write(table, self.call("plans.sync.links", S.replace_links, kept, rows, KEYS))
        follow_ups = self.call(
            "plans.sync.discovery",
            S.missing_entity_jobs,
            analyzed,
            self.store.read("bibliography"),
            self.store.read("places"),
            self.store.read("articles"),
        )
        with self.tr.span("plans.outbox"):
            outbox2 = OB.append_jobs(OB.mark_processed(self.store.read("outbox"), drained.select("id")), follow_ups)
        store.write("outbox", outbox2)
        return sum(found.values())

    def index_batch(self, sink_dir: str) -> list[str]:
        """One coalesced batch_index drain: build its search documents,
        write them to ``sink_dir`` and mark the articles idle. Returns
        the drained article keys."""
        store = self.store
        with self.tr.span("plans.outbox"):
            bdrain = OB.drain_batch_index(self.store.read("outbox"), target_keys=BATCH_INDEX_KEYS)
            batch_keys = [r["article_key"] for r in OB.coalesced_batch_keys(bdrain).collect()]
        if not batch_keys:
            return []
        claimed = (
            self.store.read("articles")
            .filter(F.concat_ws(":", "dictionary", "id").isin(*batch_keys))
            .select("dictionary", "id", "data")
        )
        with self.tr.span("plans.search_documents"):
            docs = build_search_documents(
                claimed, self.store.read("bibliography"), self.store.read("places"),
                self.store.read("article_place", ARTICLE_PLACE), self.store.read("concepts"),
            )
            # sever lineage from the state dirs the next writes swap
            docs = docs.localCheckpoint(eager=True)
        self.call("plans.sinks", write_search_documents, docs, sink_dir)
        done = self.call("plans.outbox", OB.mark_processed, self.store.read("outbox"), bdrain.select("id"))
        store.write("outbox", done)
        return batch_keys

    def settle(self, gone_df, idle_keys: list[str], cursor: str) -> bool:
        """Mark indexed articles idle and drop the gone ones, resolve the
        crawl follow-ups (unknown ids resolve as not found), then check
        the settledness gate twice, as a poller would."""
        store, spark = self.store, self.spark
        idle = spark.createDataFrame([(k,) for k in idle_keys], "k string")
        arts = self.store.read("articles")
        arts2 = (
            arts.join(gone_df, ["dictionary", "id"], "left_anti")
            .join(idle, F.concat_ws(":", "dictionary", "id") == F.col("k"), "left")
            .withColumn("sync_status", F.when(F.col("k").isNotNull(), F.lit("idle")).otherwise(F.col("sync_status")))
            .drop("k")
        )
        store.write("articles", arts2)

        with self.tr.span("plans.outbox"):
            pending = self.store.read("outbox").filter(F.col("processed_at").isNull())
            crawl = pending.select(
                F.when(F.col("job_type") == "fetch_bibliography", F.concat(F.lit("bibliography:"), "job_key"))
                .when(F.col("job_type") == "fetch_place", F.concat(F.lit("place:"), "job_key"))
                .otherwise(F.col("job_key"))
                .alias("job_key"),
            )
        with self.tr.span("sources.fetch_sim"):
            res = fetch_articles(crawl, _catalog_resolver(self.up.resolver()), num_partitions=self.cpus)
            found = {r["found"]: r["count"] for r in res.groupBy("found").count().collect()}
        if found:
            self.crawl_calls += sum(found.values())
            self.crawl_found += found.get(True, 0)
            done = self.call("plans.outbox", OB.mark_processed, self.store.read("outbox"), pending.select("id"))
            store.write("outbox", done)

        gate = S.SettlednessGate(settle_seconds=0)
        with self.tr.span("plans.sync.gate"):
            counts = S.pending_counts(self.store.read("outbox"))
            gate.check(counts["outbox"] == 0, cursor, now=0)
            opened = gate.check(counts["outbox"] == 0, cursor, now=1)
        self.gate_opened += int(opened)
        return opened

    def sync(self, sink_dir: str, cursor: str) -> tuple[bool, list[str]]:
        """One full cycle from list in to gate open. Returns whether the
        gate opened and the article keys indexed."""
        lst = self.list_in()
        gone = self.diff_and_enqueue(lst)
        gone_df = self.spark.createDataFrame(gone, "dictionary string, id long")
        # a drain short of its cap emptied the queue
        while self.fetch_store_discover(lst, gone_df) == FETCH_CHUNK:
            pass
        indexed: list[str] = []
        while True:
            got = self.index_batch(os.path.join(sink_dir, f"batch{len(indexed) // BATCH_INDEX_KEYS:04d}"))
            indexed.extend(got)
            if len(got) < BATCH_INDEX_KEYS:
                break
        return self.settle(gone_df, indexed, cursor), indexed
