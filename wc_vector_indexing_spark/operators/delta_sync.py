"""Delta sync — the heart of the engine (SURVEY §2.7 J3-J6, §3.1 step 4).

One classification pass joins a fresh chunk build (indexer.build_chunks
— shas computed, NOTHING embedded yet) with the target's sync-state
ledger: a full outer join on (product_id, chunk_index), restricted to
the products in the batch. A product is *unchanged* when every one of
its rows has both sides and chunk_sha == the ledger's chunk_sha, and
``force`` is off. That one flag covers the reference's sha, chunk-set
and error checks and its model/dimension rebuild
(class-indexer.php:320-360): the chunk sha binds the config sha, which
covers model and dimension (functions/hashing.py ``sha_chunk_bound``),
and error rows store chunk_sha = NULL. Each row then gets one action:

  skip     product unchanged → ZERO embedding/upsert work; only the
           ledger timestamps are touched (W4, the reference's 'SHA
           skip', class-indexer.php:329-360)
  upsert   chunk is new, its sha differs, or force → embed + upsert
           (J4, class-indexer.php:373-388)
  delete   ledger chunk absent from the new build → leaves index and
           ledger (J3, class-indexer.php:363-371)

A changed product's chunks whose sha still matches need no work and are
dropped from the tagged frame. Products absent from the batch are
deletes of the delete flow, not of the sync diff.

``apply_sync`` embeds only the upsert rows (the one expensive stage),
caches the tagged frame once, takes every count from one aggregate over
it, and commits each store ONCE (class-indexer.php:391-476 order, remote
before state): the index MERGE carries the stale deletes and the
upserts; the ledger MERGE carries the stale deletes, the error rows, the
synced rows and the unchanged products' touched rows — the
ParquetMergeStore stand-in for Delta's single-statement ``MERGE … WHEN
MATCHED … DELETE / UPDATE … WHEN NOT MATCHED INSERT``.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wc_vector_indexing_spark.config import EngineConfig, VALID_TARGETS
from wc_vector_indexing_spark.operators.embed import EmbeddingBackend, embed_texts
from wc_vector_indexing_spark.operators.indexer import attach_payload
from wc_vector_indexing_spark.state.store import ParquetMergeStore


@dataclass
class DeltaPlan:
    """Lazy classification of sync work: four filters over the one
    tagged frame. Nothing runs until apply_sync (or a caller) forces
    them."""

    to_upsert: DataFrame  # chunk rows needing embed + upsert
    to_delete: DataFrame  # state keys (product_id, chunk_index) gone stale
    unchanged: DataFrame  # product_ids to touch only
    rebuild: DataFrame  # product_ids with a ledger row of another model/dim (⊆ upserts)
    tagged: DataFrame  # new chunk cols + ``old`` ledger row struct + ``action``


def diff(
    new_chunks: DataFrame,
    existing_state: DataFrame,
    config: EngineConfig,
    force: bool = False,
) -> DeltaPlan:
    """Classify chunk-level work in one pass. ``new_chunks`` must carry
    product_id, chunk_index, chunk_sha, product_sha (+ text cols for the
    embed stage); ``existing_state`` is the ledger filtered to one
    target."""
    action = F.col("action")
    ledger = existing_state.select(
        "product_id", "chunk_index", F.struct(*existing_state.columns).alias("old")
    )
    product = Window.partitionBy("product_id")
    is_new = F.col("chunk_sha").isNotNull()
    same = F.coalesce(F.col("chunk_sha") == F.col("old.chunk_sha"), F.lit(False))
    tagged = (
        new_chunks.join(ledger, ["product_id", "chunk_index"], "full_outer")
        # the per-product window reuses this exchange; being explicit,
        # it also tells embed_texts' fan_out that the frame is already
        # distributed, so fan_out does not probe it (a probe under AQE
        # runs the join's shuffle stages once more)
        .repartition("product_id")
        .withColumn(
            "action",
            F.when(~F.max(is_new).over(product), None)  # product not in the batch
            .when(F.lit(not force) & F.min(same).over(product), "skip")
            .when(~is_new, "delete")
            .when(F.lit(force) | ~same, "upsert"),  # NULL: sha matches, no work
        )
        .filter(action.isNotNull())
    )
    return DeltaPlan(
        to_upsert=tagged.filter(action == "upsert").drop("old", "action"),
        to_delete=tagged.filter(action == "delete").select("product_id", "chunk_index"),
        unchanged=tagged.filter(action == "skip").select("product_id").distinct(),
        rebuild=tagged.filter(
            (F.col("old.model") != config.model)
            | (F.col("old.dimension") != F.lit(config.dimension))
        ).select("product_id").distinct(),
        tagged=tagged,
    )


@dataclass
class SyncSummary:
    target: str
    upserted: int
    deleted: int
    skipped_products: int
    errored: int = 0
    # wall seconds per phase: embed = first embed batch start to last
    # batch end; chunk_diff = the rest of the one aggregate's job; commit
    seconds: dict[str, float] = field(default_factory=dict)
    # version each store's commit published (None: no commit)
    versions: dict[str, int | None] = field(default_factory=dict)


class _SpanParam(AccumulatorParam):
    """(earliest start, latest end) over every task's embed batches."""

    def zero(self, value):
        return (math.inf, -math.inf)

    def addInPlace(self, a, b):
        return (min(a[0], b[0]), max(a[1], b[1]))


class _SpannedBackend:
    """The sync's backend, recording when embedding ran. Chunking,
    classification and embedding run in one job, so the embed phase is
    timed inside the tasks rather than by an action of its own."""

    def __init__(self, inner: EmbeddingBackend, span):
        self.inner, self.span = inner, span
        self.model, self.dimension = inner.model, inner.dimension

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        t0 = time.time()
        try:
            return self.inner.embed_batch(texts)
        finally:
            self.span.add((t0, time.time()))


def apply_sync(
    plan: DeltaPlan,
    state: ParquetMergeStore,
    index: ParquetMergeStore,
    config: EngineConfig,
    backend: EmbeddingBackend,
    target: str = "local",
    product_cols: list[str] | None = None,
) -> SyncSummary:
    """Execute a DeltaPlan against the state ledger + vector index: one
    cached frame, one aggregate, one commit per store (module
    docstring)."""
    if target not in VALID_TARGETS:
        raise ValueError(f"invalid target {target!r}")
    now, action = F.current_timestamp(), F.col("action")
    t0 = time.time()
    span = plan.tagged.sparkSession.sparkContext.accumulator((math.inf, -math.inf), _SpanParam())
    # embed ONLY the upsert rows, with per-batch failure isolation (W8)
    embedded = embed_texts(
        plan.tagged.filter(action == "upsert"),
        text_col="chunk_text",
        out_col="values",
        backend=_SpannedBackend(backend, span),
        batch_size=config.embed_batch,
        on_error="mark",
    )
    frame = (
        attach_payload(embedded, config, product_cols or [])
        .unionByName(plan.tagged.filter(action != "upsert"), allowMissingColumns=True)
        .withColumn("target", F.lit(target))
        .cache()
    )
    try:
        up, failed = action == "upsert", F.col("embed_error").isNotNull()
        n = frame.agg(
            F.count(F.when(up & ~failed, 1)).alias("upserted"),
            F.count(F.when(up & failed, 1)).alias("errored"),
            F.count(F.when(action == "delete", 1)).alias("deleted"),
            F.count_distinct(F.when(action == "skip", F.col("product_id"))).alias("skipped"),
        ).first()
        t1 = time.time()
        stale = frame.filter(action == "delete")
        versions: dict[str, int | None] = {"index": None, "state": None}
        if n.upserted or n.deleted:  # W5/W6: vectors of the successful payloads
            versions["index"] = index.merge(
                frame.filter(up & ~failed).select(
                    "target", "vector_id", "product_id", "chunk_index",
                    "chunk_text", "values", "product_sha", "chunk_sha", "metadata",
                ),
                deletes=stale.select("target", "product_id", "old.vector_id"),
            )
        if n.upserted or n.errored or n.deleted or n.skipped:
            # W1 per-chunk sync state (created_at immutable). W3: failed
            # chunks land as status='error' with chunk_sha NULL, so the
            # next diff re-selects them (a recorded sha would read as
            # 'already synced' and the error would never retry)
            synced = frame.filter(up).select(
                F.lit(config.site_id).cast("long").alias("site_id"),
                "product_id",
                "target",
                "chunk_index",
                "vector_id",
                "product_sha",
                F.when(~failed, F.col("chunk_sha")).alias("chunk_sha"),
                F.lit(config.model).alias("model"),
                F.lit(config.dimension).alias("dimension"),
                F.lit(None).cast("string").alias("remote_id"),
                F.when(failed, "error").otherwise("synced").alias("status"),
                F.when(failed, "embed_failed").alias("error_code"),
                F.col("embed_error").alias("error_msg"),
                F.when(~failed, now).alias("last_synced_at"),
                now.alias("created_at"),
                now.alias("updated_at"),
            )
            # W4: unchanged products' ledger rows, timestamps touched
            touched = frame.filter(action == "skip").select("old.*").withColumns(
                {"last_synced_at": now, "updated_at": now}
            )
            versions["state"] = state.merge(
                synced.unionByName(touched),
                deletes=stale.select("target", "product_id", "chunk_index"),
            )
    finally:
        frame.unpersist()
    lo, hi = span.value
    embed_s = max(0.0, hi - lo)
    return SyncSummary(
        target=target,
        upserted=n.upserted,
        deleted=n.deleted,
        skipped_products=n.skipped,
        errored=n.errored,
        seconds={"chunk_diff": max(0.0, t1 - t0 - embed_s), "embed": embed_s,
                 "commit": time.time() - t1},
        versions=versions,
    )


def delete_products(
    product_ids: list[int],
    state: ParquetMergeStore,
    index: ParquetMergeStore,
    targets: tuple[str, ...] = ("local",),
) -> int:
    """Product-delete flow (class-job-delete-product.php:45-90): remove
    all vectors + state rows for the products, per target — the W6
    metadata-filter delete re-expressed as a keyed delete that rewrites
    only the products' buckets. Returns the number of index rows
    removed."""
    keys = index.spark.createDataFrame(
        [(t, int(p)) for t in targets for p in product_ids], "target string, product_id long"
    )
    n = index.read().filter(
        F.col("target").isin(list(targets)) & F.col("product_id").isin(product_ids)
    ).count()
    index.delete_keys(keys, ["target", "product_id"])
    state.delete_keys(keys, ["target", "product_id"])
    return n


def purge_site(
    site_id: int,
    state: ParquetMergeStore,
    index: ParquetMergeStore,
) -> int:
    """Site-wide purge (class-job-purge-site.php:39-85): predicate delete
    on metadata.site_id across all targets + full state wipe for site."""
    cond = F.col("metadata.site_id") == site_id
    n = index.read().filter(cond).count()
    index.delete_where(cond)
    state.delete_where(F.col("site_id") == site_id)
    return n


def sync_products(
    products: DataFrame,
    state: ParquetMergeStore,
    index: ParquetMergeStore,
    config: EngineConfig,
    backend: EmbeddingBackend,
    text_col: str | None = None,
    force: bool = False,
    event_log=None,
) -> dict[str, SyncSummary]:
    """End-to-end incremental sync of a product batch to every configured
    target (SURVEY §3.1): build chunks once, then per-target diff+apply.
    Pass an ``logs.EventLog`` to record per-target telemetry rows (U5,
    class-job-index-product.php:108-128 outcome events); each row's
    ``details`` JSON holds the counts, phase seconds and the store
    versions the commits published."""
    from wc_vector_indexing_spark.operators.indexer import build_chunks

    # the document text is chunked; the diff and the stores need only
    # the chunk columns, so it is not carried through the shuffles
    chunks = build_chunks(products, config, text_col=text_col).drop(text_col or "doc_text")
    chunks = chunks.cache()
    summaries: dict[str, SyncSummary] = {}
    try:
        for target in config.targets:
            t0 = time.time()
            existing = state.read().filter(F.col("target") == target)
            plan = diff(chunks, existing, config, force=force)
            s = apply_sync(
                plan, state, index, config, backend, target=target, product_cols=products.columns
            )
            # the plan's lazy reads of the diff-time snapshot are dead now —
            # release the version leases so vacuum can reclaim the dirs
            state.release_leases()
            index.release_leases()
            summaries[target] = s
            if event_log is not None:
                counts = {"upserted": s.upserted, "deleted": s.deleted,
                          "skipped": s.skipped_products, "errored": s.errored}
                event_log.append(
                    [
                        {
                            "site_id": config.site_id,
                            "target": target,
                            "action": "sync_batch",
                            "outcome": "error" if s.errored else "success",
                            "message": " ".join(f"{k}={v}" for k, v in counts.items()),
                            "duration_ms": int((time.time() - t0) * 1000),
                            "count": s.upserted,
                            "details": {**counts, "seconds": s.seconds, "versions": s.versions},
                        }
                    ]
                )
    finally:
        chunks.unpersist()
    return summaries
