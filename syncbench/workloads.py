"""The benchmark's workloads. Each is one closed-loop client doing a
fixed amount of work from a seeded start, then checking the results.

Work is counted, never timed: ``--seconds`` only sets the number of
updates through a fixed per-update allowance (``*_UPDATE_SECONDS``), so
the same arguments always do the same work.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from syncbench import gen, selftest, stats
from syncbench.index_stream import IndexStream
from syncbench.sync_cycle import SyncCycle
from syncbench.tracer import Tracer
from worker_spark.plans.bucketed_state import rewritten_bytes, tree_bytes
from worker_spark.plans.search_documents import build_search_documents
from worker_spark.plans.sync import table_fingerprint

# sync_tick: 1,200 articles, 1.5% of them changed per tick
SYNC_PER_DICT = 400
SYNC_UNKNOWN_SHARE = 0.2  # share of cited ids that are unknown upstream
SYNC_CHANGE_SHARE = 0.015
SYNC_BUCKETS = 16
SYNC_LOOKUPS = 8  # sink lookups after each tick
SYNC_UPDATE_SECONDS = 40

# index_stream: micro-batches of 40 documents, 5% of them re-sent ids
INDEX_PRELOAD = 800
INDEX_BATCH_DOCS = 40
INDEX_RESEND_SHARE = 0.05
INDEX_QUERIES = 2  # BM25 queries after each commit
INDEX_UPDATE_SECONDS = 13


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: int
    traced: bool
    cpus: int
    process_start: float
    bounds: dict


@dataclass
class Result:
    e2e: dict
    samples: dict
    checks: dict
    attempted: int
    failed: int
    sizes: dict
    phases: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    tails: dict = field(default_factory=dict)
    drift: dict = field(default_factory=dict)


class StoreProbe:
    """Traced runs only: spans every call into a state store and records
    which buckets it read or rewrote, and how many bytes and rows."""

    def __init__(self, store, tracer: Tracer):
        self.store = store
        self.tr = tracer
        self.reads = []  # (buckets read, buckets in the table)
        self.writes = []  # (buckets rewritten, buckets in the table, bytes, rows)
        self.self_s = 0.0  # time spent on this accounting
        for name in ("read", "touched_buckets"):
            setattr(store, name, self._spanned(getattr(store, name), name == "read"))
        for name in ("write", "upsert", "delete_then_insert"):
            setattr(store, name, self._measured(getattr(store, name)))

    def _spanned(self, fn, is_read: bool):
        def call(*args, **kwargs):
            if is_read:
                buckets = kwargs.get("buckets", args[2] if len(args) > 2 else None)
                n = self.store.n_buckets
                self.reads.append((n if buckets is None else len(buckets), n))
            with self.tr.span("plans.bucketed_state"):
                return fn(*args, **kwargs)

        return call

    def _measured(self, fn):
        def call(table, *args, **kwargs):
            t0 = time.perf_counter()
            tdir = os.path.join(self.store.root, table)
            before = tree_bytes(tdir)
            self.self_s += time.perf_counter() - t0
            with self.tr.span("plans.bucketed_state"):
                out = fn(table, *args, **kwargs)
            t0 = time.perf_counter()
            after = tree_bytes(tdir)
            changed = [p for p, st in after.items() if before.get(p) != st and p.endswith(".parquet")]
            buckets = {os.path.basename(os.path.dirname(p)) for p in changed}
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in changed)
            self.writes.append((len(buckets), self.store.n_buckets, rewritten_bytes(before, after), rows))
            self.self_s += time.perf_counter() - t0
            return out

        return call

    def take(self) -> tuple[list, list, float]:
        out = (self.reads, self.writes, self.self_s)
        self.reads, self.writes, self.self_s = [], [], 0.0
        return out


def _store_layers(probe_log: list) -> dict:
    reads = [r for p in probe_log for r in p[0]]
    writes = [w for p in probe_log for w in p[1]]
    return {
        "buckets_read": sum(r[0] for r in reads),
        "buckets_readable": sum(r[1] for r in reads),
        "buckets_rewritten": sum(w[0] for w in writes),
        "buckets_writable": sum(w[1] for w in writes),
        "rewritten_bytes": sum(w[2] for w in writes),
        "rows_rewritten": sum(w[3] for w in writes),
        "tracer_s": sum(p[2] for p in probe_log),
    }


def _outbox_rows(store) -> int:
    root = os.path.join(store.root, "outbox")
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _dirs, files in os.walk(root)
        if "/." not in d
        for f in files
        if f.endswith(".parquet")
    )


def sync_tick(ctx: Context) -> Result:
    """Incremental ticks on warm state: list in -> gate open, then
    lookups of the tick's documents in the sink."""
    spark = ctx.spark
    tr = Tracer(spark, ctx.traced)
    up = gen.Upstream(ctx.seed, SYNC_PER_DICT, SYNC_UNKNOWN_SHARE)
    cyc = SyncCycle(spark, ctx.work, up, tr, ctx.cpus, SYNC_BUCKETS)
    probe = StoreProbe(cyc.store, tr) if ctx.traced else None
    cyc.seed()
    tr.harvest()
    if probe:
        probe.take()

    ticks = max(1, round(ctx.seconds / SYNC_UPDATE_SECONDS))
    rng = gen.rng_for(ctx.seed, "lookups")
    update_s, serve_s, probe_log, outbox_rows = [], [], [], []
    changed = docs = failed_ops = 0
    setup_s = None
    last_keys: list[str] = []
    for t in range(ticks):
        change = up.change(t, SYNC_CHANGE_SHARE)
        changed += sum(len(v) for v in change.values())
        sink = os.path.join(cyc.sink_root, f"tick{t:03d}")
        tr.update = t
        start = time.time()
        if setup_s is None:
            setup_s = start - ctx.process_start
        with tr.span("update"):
            _opened, indexed = cyc.sync(sink, cursor=f"tick{t}")
        update_s.append(time.time() - start)
        docs += len(indexed)
        last_keys = indexed
        tr.harvest()
        if probe:
            probe_log.append(probe.take())
            outbox_rows.append(_outbox_rows(cyc.store))
        for key in rng.sample(indexed, min(SYNC_LOOKUPS, len(indexed))):
            d, i = key.split(":")
            t0 = time.time()
            with tr.span("serve"):
                rows = (
                    spark.read.parquet(os.path.join(sink, "batch0000"))
                    .filter((F.col("dictionary") == d) & (F.col("doc_id") == f"{d}_{i}"))
                    .collect()
                )
            serve_s.append(time.time() - t0)
            failed_ops += len(rows) != 1
        tr.harvest()

    measured_end = time.time()
    checks = _sync_checks(cyc, up, last_keys, os.path.join(cyc.sink_root, f"tick{ticks - 1:03d}", "batch0000"))
    checks["gate_opened_every_tick"] = cyc.gate_opened == ticks
    result = Result(
        e2e={
            "setup_s": setup_s,
            "update_p50_s": stats.median(update_s),
            "serve_p50_s": stats.median(serve_s),
            "docs_per_s": docs / sum(update_s),
        },
        samples={"update_s": update_s, "serve_s": serve_s},
        checks=checks,
        attempted=ticks + len(serve_s) + len(checks),
        failed=failed_ops + sum(not v for v in checks.values()),
        sizes={
            "articles": SYNC_PER_DICT * len(gen.DICTIONARIES),
            "change_share": SYNC_CHANGE_SHARE,
            "ticks": ticks,
            "lookups_per_tick": SYNC_LOOKUPS,
            "n_buckets": SYNC_BUCKETS,
            "docs_indexed": docs,
        },
        phases={"measured_s": measured_end - ctx.process_start - setup_s, "checks_s": time.time() - measured_end},
    )
    return _finish(
        ctx, result, tr, probe_log,
        {
            "changed_rows": changed,
            "outbox_rows": outbox_rows,
            "fetch_rows": cyc.fetch_calls["fetched"] + cyc.crawl_calls,
            "fetch_found": cyc.fetch_calls["found"] + cyc.crawl_found,
        },
    )


def _sync_checks(cyc: SyncCycle, up: gen.Upstream, last_keys: list[str], sink_dir: str) -> dict:
    spark, store = cyc.spark, cyc.store
    stored = {
        (r["dictionary"], r["id"], r["revision"])
        for r in store.read("articles").select("dictionary", "id", "revision").collect()
    }
    upstream = {(d, i, r) for (d, i), r in up.revs.items()}
    sink = spark.read.parquet(sink_dir)
    claimed = (
        store.read("articles")
        .filter(F.concat_ws(":", "dictionary", "id").isin(*last_keys))
        .select("dictionary", "id", "data")
    )
    direct = build_search_documents(
        claimed, store.read("bibliography"), store.read("places"),
        store.read("article_place"), store.read("concepts"),
    )
    return {
        "stored_equals_upstream": stored == upstream,
        "sink_equals_direct_build": sink.count() == len(last_keys)
        and table_fingerprint(sink.select(*direct.columns)) == table_fingerprint(direct),
        "crawl_jobs_resolve_not_found": cyc.crawl_calls > 0 and cyc.crawl_found == 0,
    }


def index_stream(ctx: Context) -> Result:
    """Micro-batches through ``index_maintenance_stream`` into a
    preloaded index, each followed by BM25 queries on the maintained
    state."""
    spark = ctx.spark
    tr = Tracer(spark, ctx.traced)
    n_batches = max(3, round(ctx.seconds / INDEX_UPDATE_SECONDS))
    ix = IndexStream(spark, ctx.work, tr, ctx.seed, INDEX_PRELOAD, INDEX_BATCH_DOCS, INDEX_RESEND_SHARE)
    probe = StoreProbe(ix.index.store, tr) if ctx.traced else None
    *queries, warm_query = gen.index_queries(ctx.seed, n_batches * INDEX_QUERIES + 1)
    ix.setup(n_batches, warm_query)
    tr.harvest()
    if probe:
        probe.take()

    update_s, serve_s, landed, probe_log = [], [], [], []
    rows_in = keys_in = failed_ops = 0
    setup_s = None
    for b in range(n_batches):
        tr.update = b
        with tr.span("update"):
            t_land, t_commit = ix.update(b + 1)
        if setup_s is None:
            setup_s = t_land - ctx.process_start
        update_s.append(t_commit - t_land)
        landed.append(t_land)
        pairs = ix.batches[b + 1][1]
        rows_in += len(pairs)
        keys_in += len({d for d, _g in pairs})
        tr.harvest()
        if probe:
            probe_log.append(probe.take())
        for q in queries[b * INDEX_QUERIES : (b + 1) * INDEX_QUERIES]:
            t0 = time.time()
            with tr.span("serve"):
                rows = ix.serve(q)
            serve_s.append(time.time() - t0)
            failed_ops += len(rows) == 0
        tr.harvest()
        if probe:
            probe_log.append(probe.take())

    measured_end = time.time()
    checks = ix.check(queries)
    result = Result(
        e2e={
            "setup_s": setup_s,
            "update_p50_s": stats.median(update_s),
            "serve_p50_s": stats.median(serve_s),
            "docs_per_s": keys_in / sum(update_s),
        },
        samples={"update_s": update_s, "serve_s": serve_s},
        checks=checks,
        attempted=n_batches + len(serve_s) + len(checks),
        failed=failed_ops + sum(not v for v in checks.values()),
        sizes={
            "preload_docs": INDEX_PRELOAD,
            "batches": n_batches,
            "docs_per_batch": INDEX_BATCH_DOCS,
            "resend_share": INDEX_RESEND_SHARE,
            "queries_per_batch": INDEX_QUERIES,
            "n_buckets": ix.index.store.n_buckets,
        },
        phases={"measured_s": measured_end - ctx.process_start - setup_s, "checks_s": time.time() - measured_end},
    )
    return _finish(
        ctx, result, tr, probe_log,
        {
            "changed_rows": keys_in,
            "trigger_overhead_s": [e - l for e, l in zip(ix.entered, landed)],
            "rows_in": rows_in,
            "keys_after_last_wins": keys_in,
        },
    )


def _finish(ctx: Context, result: Result, tr: Tracer, probe_log: list, extra: dict) -> Result:
    """Tails and drift flags for every run; for a traced run, the layer
    totals with their bases and the tracer self-test."""
    names = {"update_s": "update_p50_s", "serve_s": "serve_p50_s"}
    for series, xs in result.samples.items():
        result.tails[series] = stats.tail(xs)
        result.drift[series] = stats.drift(xs, ctx.bounds[names[series]])
    if not ctx.traced:
        return result
    updates = set(range(len(result.samples["update_s"])))
    result.layers = {
        "n_updates": len(updates),
        "n_reads": len(result.samples["serve_s"]),
        "cpus": ctx.cpus,
        "layers": tr.layer_totals(updates, "update"),
        "read_layers": tr.layer_totals(updates, "serve"),
        "roots": tr.root_totals(updates),
        "store": _store_layers(probe_log),
        **extra,
        "selftest": selftest.run(ctx.spark, os.path.join(ctx.work, "selftest")),
    }
    result.checks["tracer_selftest"] = result.layers["selftest"]["passed"]
    result.attempted += 1
    result.failed += not result.checks["tracer_selftest"]
    return result


WORKLOADS = {"sync_tick": sync_tick, "index_stream": index_stream}
