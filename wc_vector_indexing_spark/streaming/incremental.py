"""Streaming incremental sync (SURVEY §2.10 T1-T8).

The reference's CDC is WordPress save/trash/delete hooks firing queue
jobs (class-lifecycle.php:20-31) with a 30 s debounce for variation-edit
bursts (:111-114) and a 15-min recurring scan as the catch-all
(class-scheduler.php:35-66). Spark restatement:

  T1 change events   → ``readStream`` over an append-only change-event
                       table (product_id, change_type, event_ts)
  T5 debounce        → watermark + per-key tumbling-window dedupe: many
                       events for one product within the window collapse
                       to one sync
  T2 trigger         → Trigger.AvailableNow (micro-batch catch-up) or
                       processingTime='15 minutes'
  T4 exactly-once    → idempotent vector ids + MERGE keyed on
                       (target, product_id, chunk_index): replaying a
                       batch converges to the same state
  T7/T8 retry/DLQ    → failed products marked status='error' in the
                       ledger; the next scan picks them first (priority 1)

The heavy lifting happens in ``foreachBatch`` — inside it the data is a
plain DataFrame, so the whole batch path (diff → embed-changed-only →
MERGE) is reused verbatim. That is the point: streaming is a *driver* of
the same incremental semantics, not a second implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wc_vector_indexing_spark.config import EngineConfig

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.LongType(), False),
        T.StructField("change_type", T.StringType(), False),  # save|trash|delete|acf_save
        T.StructField("event_ts", T.TimestampType(), False),
    ]
)


def debounced_changes(
    events: DataFrame,
    watermark_delay: str = "30 seconds",
    window_size: str = "30 seconds",
) -> DataFrame:
    """T5 debounce: collapse an edit burst per product into one change
    per tumbling window, keeping the latest change_type (a delete after
    saves wins). Works identically on a static frame (tests) and a
    stream (withWatermark enables state eviction)."""
    if events.isStreaming:
        events = events.withWatermark("event_ts", watermark_delay)
    return (
        events.groupBy(
            F.window("event_ts", window_size).alias("w"),
            F.col("product_id"),
        )
        .agg(F.max_by("change_type", "event_ts").alias("change_type"))
        .select("product_id", "change_type", F.col("w.end").alias("window_end"))
    )


def start_incremental_stream(
    change_events: DataFrame,
    products: DataFrame,
    state_store,
    index_store,
    config: EngineConfig,
    backend,
    checkpoint_dir: str,
    text_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Wire a change-event stream into the batch sync path via
    foreachBatch. Returns the StreamingQuery (caller awaits/stops)."""
    from wc_vector_indexing_spark.operators.delta_sync import delete_products, sync_products

    debounced = debounced_changes(change_events)

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.cache()
        try:
            deletes = [
                r.product_id
                for r in batch.filter(F.col("change_type").isin("trash", "delete"))
                .select("product_id")
                .distinct()
                .collect()
            ]
            if deletes:
                delete_products(deletes, state_store, index_store, targets=config.targets)
            upsert_ids = batch.filter(~F.col("change_type").isin("trash", "delete")).select(
                "product_id"
            ).distinct()
            todo = products.join(upsert_ids, "product_id", "left_semi")
            if todo.limit(1).count() > 0:
                sync_products(todo, state_store, index_store, config, backend, text_col=text_col)
        finally:
            batch.unpersist()

    # update mode: append would hold the last window open until a later
    # event advances the watermark past it — with AvailableNow catch-up
    # that means the tail of the stream never syncs. Updates may re-emit
    # a key across batches; the MERGE downstream is idempotent (T4), so
    # converged state is identical.
    writer = (
        debounced.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="15 minutes")
    return writer.start()


def windowed_event_aggregate(
    events: DataFrame,
    window_size: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """T9 extension: watermarked tumbling-window aggregate over the
    engine's event stream (counts + value sums per type) — the streaming
    twin of plans.queries.t9_windowed_events."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark_delay)
    return (
        events.groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_aggregate(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Native gap-session aggregation via ``session_window`` — the
    streaming twin of operators.relational.sessionize (which does the
    same merge with lag + running sum for batch frames).

    In a stream, state is one open session per key, merged as events
    arrive and EVICTED once the watermark passes session_end — bounded
    by concurrent-active keys, not corpus size. On a static frame the
    identical call runs as a batch aggregate (one shuffle on the
    session-window key), so tests and backfills share the code path.

    Session semantics (what the oracle must mirror): an event extends
    the session iff ts <= last_ts + gap (an event at exactly the gap
    boundary still merges — verified empirically in
    tests/test_session_window.py); session_end = last_ts + gap.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark_delay)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def deduped_document_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for a document ingest pipeline: fingerprint
    content (sha256) and keep only first-seen fingerprints.

    Streaming path uses ``dropDuplicatesWithinWatermark`` — dedup state
    is evicted once the watermark passes, so state size is bounded by
    the ingest rate × horizon instead of growing with the corpus (the
    plain streaming ``dropDuplicates`` never evicts and OOMs at 100 TB).
    Duplicates arriving later than ``watermark_delay`` are out of
    contract here; the batch dedup chain (operators/dedup.py) is the
    periodic catch-all, mirroring how the reference pairs real-time
    hooks with a recurring scan (class-scheduler.php:35-66).

    On a static frame the same call degrades to exact global dedup, so
    tests and backfills share the code path.
    """
    keyed = docs.withColumn("content_sha", F.sha2(F.col(text_col), 256))
    if docs.isStreaming:
        return keyed.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
            ["content_sha"]
        )
    return keyed.dropDuplicates(["content_sha"])


def enriched_event_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    dim_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Stream-static broadcast enrichment: join a (possibly streaming)
    event frame against a small static dimension table.

    The static side is explicitly ``broadcast()`` so the plan is a
    BroadcastHashJoin in every micro-batch — the stream side never
    shuffles and no join state accumulates (stream-static joins are
    stateless by construction; Spark re-reads the static side per
    batch, picking up dim updates between batches). This is the
    streaming analogue of the engine's batch dim joins (q3/q5/q10...),
    and the pattern the reference's per-product metadata lookups map to
    under a continuous ingest.

    ``dim_cols``: project the dimension to these columns (plus the key)
    before broadcasting — never ship unneeded dim columns to every
    executor.
    """
    if dim_cols is not None:
        dim = dim.select(on, *dim_cols)
    return events.join(F.broadcast(dim), on, "left")


def curated_document_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_ts",
    min_quality: float = 0.5,
    languages: tuple[str, ...] | None = ("en",),
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """The streaming front half of the curation pipeline: quality gate →
    language gate → watermark-bounded exact dedup, applied AT INGEST so
    garbage never reaches storage. All three gates are stateless column
    expressions except the dedup (whose state the watermark bounds), so
    the operator runs identically on a stream and on a static backfill
    frame — the same contract as ``deduped_document_stream``.

    The batch pipeline (operators/curation.py) remains the periodic
    deep-clean (near-dup clustering needs corpus-wide joins that
    streaming state cannot hold); this stage exists to cut what the
    batch pass must read. Corpus-wide stages (MinHash, components) are
    deliberately absent here. Both gates are standalone column
    expressions (textstats.quality_score_col / predicted_lang_col), so
    no stream-stream join and no extra state is introduced."""
    from wc_vector_indexing_spark.operators.textstats import (
        predicted_lang_col,
        quality_score_col,
    )

    gated = docs.filter(quality_score_col(text_col) >= min_quality)
    if languages is not None:
        gated = gated.filter(predicted_lang_col(text_col).isin(*languages))
    return deduped_document_stream(gated, text_col, ts_col, watermark_delay)


def scored_document_stream(
    docs: DataFrame,
    model,
    text_col: str = "text",
    score_col: str = "log_weight",
) -> DataFrame:
    """Stream-time DSIR scoring: append the importance log-weight to a
    document stream using a model fitted offline on a static corpus
    (operators.importance.fit_importance_model — the train-once
    artifact, same lifecycle as the IVF quantizer). The scorer is a
    pure in-row expression (map-literal bucket lookup per token), so
    there is no join, no state, and the operator runs identically on a
    static backfill frame. Downstream, gate on the score exactly like
    curated_document_stream gates on quality."""
    from wc_vector_indexing_spark.operators.importance import importance_score_col

    return docs.withColumn(score_col, importance_score_col(model, text_col))


def prep_document_stream(
    docs: DataFrame,
    model=None,
    vocab_ids: dict | None = None,
    text_col: str = "text",
    ts_col: str = "event_ts",
    min_quality: float = 0.5,
    languages: tuple[str, ...] | None = ("en",),
    watermark_delay: str = "10 minutes",
    quality_thresholds: dict | None = None,
) -> DataFrame:
    """The full ingest-time prep composition: quality gate → language
    gate → watermark-bounded exact dedup (curated_document_stream) →
    DSIR importance score (``model``, fitted offline) → vocabulary-id
    encoding (``vocab_ids``, fitted offline). Every added stage is a
    pure in-row expression over broadcast-size fitted artifacts, so the
    composition stays stateless beyond the dedup watermark and runs
    identically on a static backfill frame.

    ``quality_thresholds`` (textstats.fit_quality_thresholds, fitted
    offline per language) adds the CCNet-style percentile gate as a
    map-literal predicate — the dynamic-threshold complement to the
    fixed ``min_quality``.

    Skip a stage by passing None for its artifact. Output columns:
    the input's, plus ``log_weight`` and/or ``token_ids``."""
    out = curated_document_stream(
        docs, text_col, ts_col, min_quality, languages, watermark_delay
    )
    if quality_thresholds:
        from wc_vector_indexing_spark.operators.textstats import (
            predicted_lang_col,
            quality_gate_col,
        )

        out = out.filter(
            quality_gate_col(
                quality_thresholds,
                group_col=predicted_lang_col(text_col),
                text_col=text_col,
            )
        )
    if model is not None:
        from wc_vector_indexing_spark.operators.importance import (
            importance_score_col,
        )

        out = out.withColumn("log_weight", importance_score_col(model, text_col))
    if vocab_ids is not None:
        from wc_vector_indexing_spark.operators.vocab import encode_tokens_col

        out = out.withColumn("token_ids", encode_tokens_col(vocab_ids, text_col))
    return out


def crawl_document_stream(
    spark,
    warc_path: str,
    *,
    streaming: bool = True,
    model=None,
    vocab_ids: dict | None = None,
    min_quality: float = 0.5,
    languages: tuple[str, ...] | None = ("en",),
    watermark_delay: str = "10 minutes",
    quality_thresholds: dict | None = None,
    max_link_density: float = 0.2,
    min_chars: int = 25,
) -> DataFrame:
    """The streaming raw-crawl front door, end to end: ``readStream``
    over a directory of WARC files → HTTP/HTML response parse
    (sources/warc.read_warc_stream, JVM-side framing + one Arrow pass)
    → boilerplate-removed main text (operators/html_extract) → the full
    ingest prep composition (prep_document_stream: quality gate →
    language gate → watermark-bounded exact dedup → optional DSIR
    score / vocabulary encoding). Event time is ``WARC-Date``, so the
    dedup watermark tracks crawl capture time, not processing time.

    ``streaming=False`` runs the SAME composition over a batch read —
    every stage here degrades to its static form (the shared-code
    contract every streaming operator in this module keeps), which is
    what the convergence test pins: a crash-replayed stream must end
    at exactly the batch backfill's output.

    State posture at 100 TB: the only stateful operator is the
    watermark-bounded dedup (state ∝ ingest rate × horizon, not corpus
    size); everything else is a stateless Arrow/codegen pass, and the
    file-source checkpoint bounds replay to unprocessed archives."""
    from wc_vector_indexing_spark.operators.html_extract import extract_documents
    from wc_vector_indexing_spark.sources.warc import read_warc, read_warc_stream

    pages = (read_warc_stream if streaming else read_warc)(spark, warc_path)
    docs = extract_documents(
        pages, max_link_density=max_link_density, min_chars=min_chars
    ).filter(F.length(F.trim("text")) > 0)
    docs = docs.withColumn("event_ts", F.to_timestamp("warc_date"))
    return prep_document_stream(
        docs,
        model=model,
        vocab_ids=vocab_ids,
        text_col="text",
        ts_col="event_ts",
        min_quality=min_quality,
        languages=languages,
        watermark_delay=watermark_delay,
        quality_thresholds=quality_thresholds,
    )


def feed_discovery_stream(
    spark,
    feed_path: str,
    *,
    streaming: bool = True,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """The streaming crawl-DISCOVERY front door: ``readStream`` over a
    directory of RSS/Atom feed and sitemap XML drops → one Arrow parse
    pass (sources/feeds — dialect sniffed per file) exploding one row
    per discovered URL → watermark-bounded URL-frontier dedup, so a URL
    announced by multiple feeds (or re-announced across polls) enqueues
    ONCE. Event time is the entry's published/lastmod timestamp
    (falling back to the drop file's modification time), so the dedup
    horizon tracks publication time. Malformed XML quarantines as an
    ``error`` row instead of failing the batch — a poisoned feed must
    not stall the frontier.

    ``streaming=False`` runs the SAME composition over a batch read
    (plain dropDuplicates), which the convergence test pins: a
    crash-replayed stream must end at exactly the batch backfill's
    frontier.

    State posture at 100 TB: the only stateful operator is the
    watermark-bounded URL dedup (state ∝ discovery rate × horizon, not
    frontier size); the parse is a stateless Arrow pass and the
    file-source checkpoint bounds replay to unprocessed drops."""
    schema = (
        "feed_path string, kind string, url string, title string, "
        "event_ts timestamp, error string"
    )

    def parse(batches):
        import datetime as _dt

        import pandas as pd

        from wc_vector_indexing_spark.sources.feeds import (
            parse_feed,
            parse_sitemap,
        )

        cols = ["feed_path", "kind", "url", "title", "event_ts", "error"]
        for pdf in batches:
            out = []
            for path, mtime, content in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                text = bytes(content).decode("utf-8", "replace")
                try:
                    if "sitemaps.org" in text[:400]:
                        sm = parse_sitemap(text)
                        kind = f"sitemap-{sm['kind']}"
                        entries = [
                            {"url": e["loc"], "title": None,
                             "ts": e["lastmod_ts"]}
                            for e in sm["entries"]
                        ]
                    else:
                        fd = parse_feed(text)
                        kind = fd["dialect"]
                        entries = [
                            {"url": e["link"], "title": e["title"],
                             "ts": e["published_ts"]}
                            for e in fd["entries"]
                            if e["link"]
                        ]
                except ValueError as exc:
                    out.append({
                        "feed_path": path, "kind": None, "url": None,
                        "title": None, "event_ts": mtime,
                        "error": str(exc),
                    })
                    continue
                for e in entries:
                    ts = (
                        _dt.datetime.fromtimestamp(e["ts"], _dt.timezone.utc)
                        if e["ts"] is not None else mtime
                    )
                    out.append({
                        "feed_path": path, "kind": kind, "url": e["url"],
                        "title": e["title"], "event_ts": ts, "error": None,
                    })
            yield pd.DataFrame(out, columns=cols)

    bin_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    if streaming:
        raw = (
            spark.readStream.format("binaryFile").schema(bin_schema)
            .load(feed_path)
        )
    else:
        raw = spark.read.format("binaryFile").load(feed_path)
    rows = raw.select("path", "modificationTime", "content").mapInPandas(
        parse, schema=schema
    )
    # error rows ride along (url NULL, error set) so a poisoned feed is
    # observable downstream; the dedup key is null-safe so they never
    # collapse into each other
    keyed = rows.withColumn(
        "_k", F.coalesce(F.col("url"), F.concat(F.lit("err:"), F.col("feed_path")))
    )
    if rows.isStreaming:
        out = keyed.withWatermark(
            "event_ts", watermark_delay
        ).dropDuplicatesWithinWatermark(["_k"])
    else:
        out = keyed.dropDuplicates(["_k"])
    return out.drop("_k")


def drift_monitor_stream(
    docs: DataFrame,
    ref,
    ts_col: str = "event_ts",
    window: str = "1 hour",
    by: str = "source",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Windowed distribution-drift monitor: per (event-time window,
    ``by``-slice) token-weighted cross-entropy of the arriving text
    under a reference unigram distribution fitted OFFLINE
    (`lm_score.fit_unigram_ref`). A slice whose cross-entropy jumps got
    topically/generatively different from the reference corpus — the
    stream-native complement of the batch `profile.corpus_drift` KL
    (KL needs the slice's own distribution, i.e. a second aggregation
    level streaming append mode can't hold; cross-entropy collapses to
    ONE watermark-evicted windowed aggregate over in-row per-doc NLL
    columns, so state is bounded by open windows × slices).

    Runs identically on a static backfill frame (same contract as
    `curated_document_stream`)."""
    from wc_vector_indexing_spark.operators.lm_score import ref_nll_cols

    sum_nll, n_tok = ref_nll_cols(ref, "text")
    scored = docs.withColumn("_nll", sum_nll).withColumn("_ntok", n_tok)
    if scored.isStreaming:
        scored = scored.withWatermark(ts_col, watermark_delay)
    return scored.groupBy(F.window(ts_col, window), by).agg(
        F.count("*").alias("n_docs"),
        F.sum("_ntok").alias("n_tokens"),
        F.round(F.sum("_nll") / F.sum("_ntok"), 4).alias("cross_entropy_nats"),
    )


def funnel_stage_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators.relational.funnel_stages: per
    session_window gap-session, the deepest ``steps`` prefix completed
    in order. One watermark-evicted session aggregate collecting the
    (ts, event_type) list in-state; the ordered-subsequence scan is the
    same pure array arithmetic, applied to the finalized list — so
    stage labels stream out in append mode as sessions close. State is
    one open event list per active key, bounded by the gap.

    Emits (session_start, session_end, key, stage, step) per session;
    aggregate downstream for the funnel report (counts need a second
    aggregation level, which batch has and append-mode streams hand to
    the sink side)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark_delay)
    per = (
        events.groupBy(F.session_window("ts", gap).alias("w"), key_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ).alias("_types")
        )
    )
    rest = F.col("_types")
    stage = F.lit(0)
    for i, step in enumerate(steps):
        pos = F.array_position(rest, step)
        advance = (pos > 0) & (stage == F.lit(i))
        stage = F.when(advance, stage + 1).otherwise(stage)
        rest = F.when(
            advance, F.slice(rest, pos + 1, F.greatest(F.size(rest) - pos, F.lit(0)))
        ).otherwise(rest)
    names = ["(none)"] + list(steps)
    name_col = F.element_at(F.array(*[F.lit(n) for n in names]), stage + 1)
    return per.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        key_col,
        stage.alias("stage"),
        name_col.alias("step"),
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    gap_seconds: int = 1800,
    watermark_delay: str = "10 minutes",
    prefix: tuple[str, str] = ("l_", "r_"),
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution shape
    (each left event paired with the right events that preceded it
    within ``gap_seconds`` on the same key): purchases x the clicks
    that led to them, errors x the deploys before them.

    Identical semantics on static frames (the batch twin used in the
    equivalence test) and on streams, where BOTH sides carry watermarks
    and the time-range predicate lets Spark bound the join state: a
    buffered right-side row is droppable once the watermark passes its
    ts + gap (the state-cleanup contract stream-stream joins require —
    without the range condition the state would grow forever).

    Columns come back prefixed (``l_``/``r_``) so self-joins of one
    event stream work. One shuffle on the key for each side — the same
    cost as the batch equi-join; the interval predicate is a residual,
    not a blowup, because candidates pair only within the key."""
    lp, rp = prefix
    l = left.select([F.col(c).alias(f"{lp}{c}") for c in left.columns])
    r = right.select([F.col(c).alias(f"{rp}{c}") for c in right.columns])
    if l.isStreaming:
        l = l.withWatermark(f"{lp}{left_ts}", watermark_delay)
    if r.isStreaming:
        r = r.withWatermark(f"{rp}{right_ts}", watermark_delay)
    lt, rt = F.col(f"{lp}{left_ts}"), F.col(f"{rp}{right_ts}")
    cond = (
        (F.col(f"{lp}{key_col}") == F.col(f"{rp}{key_col}"))
        & (rt <= lt)
        & (rt >= lt - F.expr(f"INTERVAL {int(gap_seconds)} SECONDS"))
    )
    return l.join(r, cond, "inner")


CAPTURE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("ts", T.DoubleType(), False),
        T.StructField("digest", T.StringType(), False),
    ]
)


def frontier_ops_plan(
    captures: DataFrame,
    politeness: DataFrame | None = None,
    *,
    now_ts: float,
    n_fetchers: int = 32,
    default_delay_s: float = 1.0,
) -> DataFrame:
    """The crawl-ops loop as ONE batch composition over the capture
    ledger (url, host, ts, digest): change-rate refresh priorities
    (operators/frontier.recrawl_priority) → per-url host attach → the
    polite fetch schedule (schedule_frontier). This is the SHARED code
    path of :func:`start_frontier_ops_stream` — the streaming twin
    recomputes exactly this plan per micro-batch, so an ops stream and
    a batch backfill can never disagree on the next schedule slice.

    Replayed capture rows (a crashed micro-batch re-appending its
    shard) collapse via dropDuplicates on the full observation key —
    one observation is one (url, ts, digest) fact, so the plan is
    idempotent over at-least-once ledger appends."""
    from wc_vector_indexing_spark.operators.frontier import (
        recrawl_priority,
        schedule_frontier,
    )

    caps = captures.dropDuplicates(["url", "ts", "digest"])
    pri = recrawl_priority(caps, now_ts=now_ts).select("url", "priority")
    hosts = caps.groupBy("url").agg(F.max("host").alias("host"))
    frontier = pri.join(hosts, "url").select("url", "host", "priority")
    return schedule_frontier(
        frontier, politeness, n_fetchers=n_fetchers,
        default_delay_s=default_delay_s)


def start_frontier_ops_stream(
    spark,
    captures_path: str,
    *,
    store_dir: str,
    schedule_dir: str,
    checkpoint_dir: str,
    now_ts: float,
    politeness: DataFrame | None = None,
    n_fetchers: int = 32,
    default_delay_s: float = 1.0,
):
    """Streaming twin of the crawl-ops loop: new capture shards
    (parquet (url, host, ts, digest) files dropped into
    ``captures_path``) stream through ``foreachBatch`` — each
    micro-batch APPENDS to the persistent capture ledger at
    ``store_dir``, then the schedule at ``schedule_dir`` is recomputed
    from the whole ledger via :func:`frontier_ops_plan` (the batch
    code path, verbatim) and atomically replaced: the politeness
    scheduler is naturally incremental — new captures → refreshed
    priorities → next schedule slice.

    Exactly-once posture: the file-source checkpoint bounds replay to
    unprocessed shards; a crash between ledger-append and checkpoint
    commit re-appends a shard, which the plan's observation-key
    dropDuplicates collapses — so a crash-replayed stream CONVERGES to
    the batch composition over the same shards (pinned by
    test_streaming.test_frontier_ops_stream_restart_converges).

    100 TB posture: the ledger is the compact observation tuple, never
    page bodies; the per-batch recompute is recrawl_priority's single
    url-keyed window + same-key aggregate over it plus the one
    host-window schedule shuffle. ``now_ts`` stays an explicit
    parameter — schedules must replay deterministically, so wall-clock
    never enters the plan. Returns the StreamingQuery."""
    stream = spark.readStream.schema(CAPTURE_SCHEMA).parquet(captures_path)

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("append").parquet(store_dir)
        sched = frontier_ops_plan(
            spark.read.parquet(store_dir), politeness,
            now_ts=now_ts, n_fetchers=n_fetchers,
            default_delay_s=default_delay_s)
        sched.write.mode("overwrite").parquet(schedule_dir)

    return (
        stream.writeStream
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
