"""Turn a run's ops, spans and store footprints into named metrics.

Per-layer names follow ``<module>.<op>.<quantity>``. Every workload
reports every per-layer metric; a layer it never calls reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import STORE_WRITES, Tracer, store_footprint
from perfbench.workloads import CURATION_ENTRIES

SYNC_KINDS = ("build", "resync_edit", "resync_noop", "delete")
EMBEDDING_KINDS = ("build", "resync_edit")  # the others never call the embedder


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


QUERY_KINDS = ("knn", *CURATION_ENTRIES)


def warm_query_s(tracer: Tracer) -> float:
    """Median over query kinds of each kind's median warm latency. The
    first call of a kind in the session is left out: it mostly measures
    JIT and worker start-up, which ``pass_s`` keeps."""
    by_kind: dict[str, list[float]] = {}
    for op in tracer.ops:
        if op.kind in QUERY_KINDS:
            by_kind.setdefault(op.kind, []).append(op.wall_s)
    return median(median(ts[1:]) for ts in by_kind.values() if len(ts) > 1)


def end_to_end(tracer: Tracer, res) -> dict[str, float]:
    return {
        "setup_s": res.extra["session_s"] + median(res.setup_units),
        "pass_s": median(res.rounds),
        "query_p50_s": warm_query_s(tracer),
        "peak_rss_mb": sum(res.extra["peak_rss_mb"].values()),
    }


def _op_spans(tracer: Tracer):
    """op_id -> (index of the op's root span, its direct child spans)."""
    roots = {s.op_id: i for i, s in enumerate(tracer.spans) if s.parent is None and s.op_id != "-"}
    kids: dict[int, list] = {i: [] for i in roots.values()}
    for s in tracer.spans:
        if s.parent in kids:
            kids[s.parent].append(s)
    return {op_id: (i, kids[i]) for op_id, i in roots.items()}


def per_layer(tracer: Tracer, res, shuffle: dict[str, int]) -> dict[str, float]:
    spans = _op_spans(tracer)
    out: dict[str, float] = {}

    def of(kind):
        return [op for op in tracer.ops if op.kind == kind]

    def shuffled(op):
        return sum(shuffle.get(g, 0) for g in op.attrs["groups"])

    def store_writes(op):
        _, kids = spans.get(op.op_id, (None, []))
        return [s for s in kids if s.name.split(".", 1)[1] in STORE_WRITES]

    for kind in SYNC_KINDS:
        ops = of(kind)
        out[f"delta_sync.{kind}.jobs"] = median(op.jobs for op in ops)
        out[f"delta_sync.{kind}.tasks"] = median(op.tasks for op in ops)
        out[f"delta_sync.{kind}.shuffle_bytes"] = median(shuffled(op) for op in ops)
        out[f"delta_sync.{kind}.self_s"] = median(
            tracer.spans[spans[op.op_id][0]].dur - sum(s.dur for s in spans[op.op_id][1])
            for op in ops if op.op_id in spans)
        out[f"store.{kind}.write_s"] = median(sum(s.dur for s in store_writes(op)) for op in ops)
        out[f"store.{kind}.calls"] = median(len(store_writes(op)) for op in ops)
        out[f"store.{kind}.buckets_touched"] = median(
            sum(s.attrs["buckets_touched"] for s in store_writes(op)) for op in ops)
        out[f"store.{kind}.bytes_written"] = median(
            sum(s.attrs["bytes_written"] for s in store_writes(op)) for op in ops)
        out[f"embed.{kind}.texts"] = median(op.attrs.get("embed_texts", 0) for op in ops)
        if kind in EMBEDDING_KINDS:
            out[f"embed.{kind}.busy_s"] = median(op.attrs.get("embed_busy_s", 0.0) for op in ops)

    syncs = [op for op in tracer.ops if op.kind in SYNC_KINDS and op.kind != "build"]
    unchanged = sum(op.attrs.get("unchanged", 0) for op in syncs)
    out["delta_sync.skip_ratio"] = (
        sum(op.attrs.get("skipped", 0) for op in syncs) / unchanged if unchanged else 0.0
    )

    stores = res.extra.get("stores")
    out["store.write_amp"] = out["store.live_files"] = out["store.versions_retained"] = 0.0
    if stores:
        # bytes rewritten per byte of rows that actually changed, over
        # every write after the cold build
        per_row = 0.0
        for root in stores.values():
            _, nbytes, nrows = store_footprint(root)
            per_row += nbytes / nrows if nrows else 0.0
        changed = sum(op.attrs.get("upserted", 0) + op.attrs.get("deleted", 0) for op in syncs)
        written = sum(s.attrs["bytes_written"] for op in syncs for s in store_writes(op))
        out["store.write_amp"] = written / (changed * per_row) if changed and per_row else 0.0
        out["store.live_files"] = float(store_footprint(stores["index"])[0])
        out["store.versions_retained"] = float(res.extra["index_versions"])
    cached = res.extra.get("cached_after_op", [])
    out["spark.cached_relations"] = float(cached[0]) if cached else 0.0
    out["spark.cached_relations_per_op"] = (
        (cached[-1] - cached[0]) / (len(cached) - 1) if len(cached) > 1 else 0.0
    )

    knn, batch = of("knn"), of("knn_batch")
    out["similarity.knn.jobs"] = median(op.attrs["exec_jobs"] for op in knn)
    out["similarity.knn.exec_s"] = median(op.attrs["exec"] for op in knn)
    out["store.read_s"] = median(op.attrs["read"] for op in knn + batch)
    out["similarity.knn_batch.jobs"] = median(op.attrs["exec_jobs"] for op in batch)
    out["similarity.knn_batch.construct_jobs"] = median(op.attrs["construct_jobs"] for op in batch)
    out["similarity.knn_batch.exec_s"] = median(op.attrs["exec"] for op in batch)

    for name in CURATION_ENTRIES:
        ops = of(name)
        out[f"queries.{name}.construct_s"] = median(op.attrs["construct"] for op in ops)
        out[f"queries.{name}.construct_jobs"] = median(op.attrs["construct_jobs"] for op in ops)
        out[f"queries.{name}.execute_s"] = median(op.attrs["execute"] for op in ops)
        out[f"queries.{name}.jobs"] = median(op.attrs["execute_jobs"] for op in ops)
        out[f"queries.{name}.shuffle_bytes"] = median(shuffled(op) for op in ops)

    out["trace.instrument_s"] = tracer.instrument_s
    return out
