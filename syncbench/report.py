"""Per-layer metrics of a traced run, and the report printed beside
them. Every ratio is printed with its base."""

from __future__ import annotations

import statistics

LAYERS = (
    "plans.sync.diff",
    "plans.sync.analyze",
    "plans.sync.links",
    "plans.sync.inline_refs",
    "plans.sync.discovery",
    "plans.sync.gate",
    "plans.outbox",
    "sources.fetch_sim",
    "plans.search_documents",
    "plans.sinks",
    "plans.bucketed_state",
    "streaming.feed",
    "streaming.retrieval_index.apply_batch",
    "streaming.retrieval_index.bm25_topk",
)
READ_LAYERS = ("streaming.retrieval_index.bm25_topk",)  # reported per read


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def _layer(rec: dict, layer: str) -> tuple[dict, int]:
    """A layer's totals and their base: reads for the serve-side layer,
    updates for the rest."""
    if layer in READ_LAYERS:
        return rec["read_layers"].get(layer, {}), rec["n_reads"]
    return rec["layers"].get(layer, {}), rec["n_updates"]


def per_layer_metrics(rec: dict, session_start_s: float) -> dict:
    """The ``per_layer`` metrics of BENCHMARK.json from a traced run's
    layer record. Layer figures are per update (per read for the
    serve-side layer); a layer a workload does not reach reads 0."""
    n_up, n_rd, cpus = rec["n_updates"], rec["n_reads"], rec["cpus"]
    out = {}

    def put(name, value, unit):
        out[name] = {"value": value, "unit": unit}

    for layer in LAYERS:
        tot, base = _layer(rec, layer)
        put(f"{layer}.self_s", _share(tot.get("self_s", 0.0), base), "s")
        put(f"{layer}.jobs", _share(tot.get("jobs", 0.0), base), "count")
        put(f"{layer}.tasks", _share(tot.get("tasks", 0.0), base), "count")
        put(f"{layer}.task_s", _share(tot.get("task_s", 0.0), base), "s")

    up = rec["roots"].get("update", {})
    put("spark.jobs", _share(up.get("jobs", 0.0), n_up), "count")
    put("spark.stages", _share(up.get("stages", 0.0), n_up), "count")
    put("spark.tasks", _share(up.get("tasks", 0.0), n_up), "count")
    put("spark.shuffle_mb", _share(up.get("shuffle_bytes", 0.0) / 1e6, n_up), "MB")
    put("spark.busy_ratio", _share(up.get("task_s", 0.0), up.get("wall_s", 0.0) * cpus), "ratio")
    put("spark.empty_task_ratio", _share(up.get("empty_tasks", 0.0), up.get("tasks", 0.0)), "ratio")

    st = rec["store"]
    put("plans.bucketed_state.buckets_touched_ratio", _share(st["buckets_rewritten"], st["buckets_writable"]), "ratio")
    put("plans.bucketed_state.rewritten_mb", _share(st["rewritten_bytes"] / 1e6, n_up), "MB")
    put("plans.bucketed_state.rewrite_amplification", _share(st["rows_rewritten"], rec["changed_rows"]), "ratio")
    put("plans.bucketed_state.read_buckets_ratio", _share(st["buckets_read"], st["buckets_readable"]), "ratio")

    outbox = rec.get("outbox_rows") or []
    put("plans.outbox.rows", statistics.mean(outbox) if outbox else 0.0, "count")
    put("sources.fetch_sim.found_ratio", _share(rec.get("fetch_found", 0), rec.get("fetch_rows", 0)), "ratio")
    trig = rec.get("trigger_overhead_s") or []
    put("streaming.feed.trigger_overhead_s", statistics.median(trig) if trig else 0.0, "s")
    put("streaming.feed.last_wins_ratio", _share(rec.get("keys_after_last_wins", 0), rec.get("rows_in", 0)), "ratio")
    put("session.start_s", session_start_s, "s")
    put("trace.overhead_s", _share(st["tracer_s"], n_up), "s")
    return out


def render(workload: str, rec: dict, metrics: dict) -> str:
    """Human-readable per-layer table for a traced run."""
    n_up, n_rd, cpus = rec["n_updates"], rec["n_reads"], rec["cpus"]
    lines = [
        f"per-layer report: {workload}; {cpus} cores; per update (n={n_up}) over the spans beneath the updates;"
        f" bm25_topk per read (n={n_rd}) over the spans beneath the reads",
        f"{'layer':40} {'self_s':>8} {'jobs':>7} {'stages':>7} {'tasks':>7} {'task_s':>8} {'busy':>6}",
    ]
    for layer in LAYERS:
        tot, base = _layer(rec, layer)
        if not tot:
            continue
        self_s = tot.get("self_s", 0.0)
        busy = _share(tot.get("task_s", 0.0), self_s * cpus)
        lines.append(
            f"{layer:40} {self_s / base:8.3f} {tot.get('jobs', 0) / base:7.1f} {tot.get('stages', 0) / base:7.1f} "
            f"{tot.get('tasks', 0) / base:7.1f} {tot.get('task_s', 0) / base:8.3f} {busy:6.2f}"
        )
    up = rec["roots"].get("update", {})
    st = rec["store"]
    lines += [
        "busy = task_s / (self_s x cores)",
        f"spark per update: {metrics['spark.jobs']['value']:.1f} jobs, {metrics['spark.tasks']['value']:.1f} tasks, "
        f"busy {metrics['spark.busy_ratio']['value']:.2f} (= {up.get('task_s', 0):.2f} task-s / "
        f"({up.get('wall_s', 0):.2f} s x {cpus})), empty tasks {metrics['spark.empty_task_ratio']['value']:.2f} "
        f"(= {up.get('empty_tasks', 0):.0f} / {up.get('tasks', 0):.0f})",
        f"store: {st['buckets_rewritten']} of {st['buckets_writable']} buckets rewritten, "
        f"{st['buckets_read']} of {st['buckets_readable']} buckets read, "
        f"{st['rows_rewritten']} rows rewritten for {rec['changed_rows']} changed rows",
    ]
    if "selftest" in rec:
        s = rec["selftest"]
        lines.append(
            f"tracer self-test {'passed' if s['passed'] else 'FAILED'}: {s['jobs_launched_in_batch']} jobs launched in "
            f"foreachBatch, {s['jobs_charged_to_span']} charged to the span from the status store, "
            f"{s['jobs_seen_by_getJobIdsForGroup_None']} seen by getJobIdsForGroup(None)"
        )
    lines.append(
        f"tracing overhead: {metrics['trace.overhead_s']['value']:.3f} s per update "
        f"(store accounting inside timed updates, {st['tracer_s']:.3f} s over {n_up})"
    )
    return "\n".join(lines)
