"""Streaming incremental semantics (SURVEY T1-T5): debounce collapses
edit bursts, delete events purge, replay converges (idempotent MERGE)."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Row

from wc_vector_indexing_spark.config import ChunkingConfig, EngineConfig
from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder
from wc_vector_indexing_spark.state.store import sync_state_store, vector_index_store
from wc_vector_indexing_spark.streaming.incremental import (
    CHANGE_EVENT_SCHEMA,
    debounced_changes,
    start_incremental_stream,
    windowed_event_aggregate,
)

T0 = datetime(2025, 6, 1, 12, 0, 0)


def test_debounce_collapses_burst(spark):
    events = spark.createDataFrame(
        [
            Row(product_id=1, change_type="save", event_ts=T0),
            Row(product_id=1, change_type="save", event_ts=T0 + timedelta(seconds=5)),
            Row(product_id=1, change_type="trash", event_ts=T0 + timedelta(seconds=10)),
            Row(product_id=2, change_type="save", event_ts=T0 + timedelta(seconds=2)),
        ],
        CHANGE_EVENT_SCHEMA,
    )
    out = debounced_changes(events).collect()
    by_id = {r.product_id: r.change_type for r in out}
    assert len(out) == 2
    assert by_id[1] == "trash"  # latest change in the window wins
    assert by_id[2] == "save"


def test_stream_end_to_end_with_deletes(spark, tmp_path):
    config = EngineConfig(
        model="fake-deterministic-64", chunking=ChunkingConfig(size=25, overlap=4)
    )
    state = sync_state_store(spark, str(tmp_path / "state"))
    index = vector_index_store(spark, str(tmp_path / "index"))
    backend = DeterministicEmbedder()
    products = spark.createDataFrame(
        [Row(product_id=i, text=f"Streaming product {i} text body.") for i in range(1, 5)]
    )
    # seed: product 4 already indexed; the stream will delete it
    from wc_vector_indexing_spark.operators.delta_sync import sync_products

    sync_products(
        products.filter("product_id = 4"), state, index, config, backend, text_col="text"
    )
    assert index.read().count() > 0

    ev_dir = str(tmp_path / "events")
    spark.createDataFrame(
        [
            Row(product_id=1, change_type="save", event_ts=T0),
            Row(product_id=1, change_type="save", event_ts=T0 + timedelta(seconds=3)),
            Row(product_id=2, change_type="save", event_ts=T0 + timedelta(seconds=4)),
            Row(product_id=4, change_type="delete", event_ts=T0 + timedelta(seconds=6)),
        ],
        CHANGE_EVENT_SCHEMA,
    ).write.parquet(ev_dir)

    stream = spark.readStream.schema(CHANGE_EVENT_SCHEMA).parquet(ev_dir)
    q = start_incremental_stream(
        stream, products, state, index, config, backend,
        checkpoint_dir=str(tmp_path / "ckpt"), text_col="text",
    )
    q.awaitTermination(120)
    q.stop()

    idx = index.read()
    assert idx.filter("product_id = 1").count() > 0
    assert idx.filter("product_id = 2").count() > 0
    assert idx.filter("product_id = 4").count() == 0  # deleted by stream
    st = state.read()
    assert st.filter("product_id = 4").count() == 0


def test_stream_releases_cached_batches(spark, tmp_path):
    """Every micro-batch the sync stream caches is released again: after
    an availableNow run of two data batches the CacheManager holds as
    many entries as before."""
    config = EngineConfig(
        model="fake-deterministic-64", chunking=ChunkingConfig(size=25, overlap=4)
    )
    products = spark.createDataFrame([Row(product_id=1, text="Cached batch product.")])
    ev_dir = str(tmp_path / "events")
    # one file per event → one micro-batch each: a sync, then a delete
    for i, change in enumerate(("save", "delete")):
        spark.createDataFrame(
            [Row(product_id=1, change_type=change, event_ts=T0 + timedelta(minutes=i))],
            CHANGE_EVENT_SCHEMA,
        ).write.parquet(f"{ev_dir}/f{i}")

    def cached() -> int:
        return spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    before = cached()
    stream = (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ev_dir}/*")
    )
    index = vector_index_store(spark, str(tmp_path / "index"))
    q = start_incremental_stream(
        stream, products, sync_state_store(spark, str(tmp_path / "state")), index,
        config, DeterministicEmbedder(),
        checkpoint_dir=str(tmp_path / "ckpt"), text_col="text",
    )
    q.awaitTermination(120)
    q.stop()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    assert cached() == before
    # both batches wrote: the sync published v1, the delete v2
    assert index.current_version() == 2 and index.read().count() == 0


def test_windowed_event_aggregate_matches_batch(spark):
    from wc_vector_indexing_spark.sources.readers import load

    ev = load(spark, "events", "/root/testdata/sf0.001")
    agg = windowed_event_aggregate(ev, window_size="1 hour").collect()
    assert agg
    total = sum(r.n_events for r in agg)
    assert total == ev.count()


def test_deduped_document_stream(spark, tmp_path):
    """Streaming exact dedup: duplicate content arriving across
    micro-batches is dropped; first occurrence survives."""
    from pyspark.sql import types as T

    from wc_vector_indexing_spark.streaming.incremental import deduped_document_stream

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("event_ts", T.TimestampType(), False),
        ]
    )
    docs_dir = str(tmp_path / "docs")
    # two files → two micro-batches with maxFilesPerTrigger=1; the dup
    # of "alpha" sits in the second batch so dedup must cross batches
    spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha", event_ts=T0),
            Row(doc_id=2, text="beta", event_ts=T0 + timedelta(seconds=1)),
        ],
        schema,
    ).write.parquet(docs_dir + "/f1")
    spark.createDataFrame(
        [
            Row(doc_id=3, text="alpha", event_ts=T0 + timedelta(seconds=2)),
            Row(doc_id=4, text="gamma", event_ts=T0 + timedelta(seconds=3)),
        ],
        schema,
    ).write.parquet(docs_dir + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(docs_dir)
    )
    q = (
        deduped_document_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    out = spark.sql("SELECT * FROM dedup_out").collect()
    assert {r.text for r in out} == {"alpha", "beta", "gamma"}
    assert len(out) == 3  # the duplicate alpha was dropped across batches

    # batch path: same call, same semantics
    static = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha", event_ts=T0),
            Row(doc_id=3, text="alpha", event_ts=T0 + timedelta(seconds=2)),
        ],
        schema,
    )
    assert deduped_document_stream(static).count() == 1


def test_curated_document_stream(spark, tmp_path):
    """Ingest-time curation: quality + language gates are pure column
    expressions on the stream; dedup still crosses micro-batches."""
    from pyspark.sql import types as T

    from wc_vector_indexing_spark.streaming.incremental import curated_document_stream

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("event_ts", T.TimestampType(), False),
        ]
    )
    good = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for walking in the park with a good long book to read "
    ) * 2
    spanish = "el la de los las que y en un una " * 12
    digits = "1234567890 " * 30
    docs_dir = str(tmp_path / "cdocs")
    spark.createDataFrame(
        [
            Row(doc_id=1, text=good, event_ts=T0),
            Row(doc_id=2, text=spanish, event_ts=T0 + timedelta(seconds=1)),
        ],
        schema,
    ).write.parquet(docs_dir + "/f1")
    spark.createDataFrame(
        [
            Row(doc_id=3, text=digits, event_ts=T0 + timedelta(seconds=2)),
            Row(doc_id=4, text=good, event_ts=T0 + timedelta(seconds=3)),  # dup of 1
        ],
        schema,
    ).write.parquet(docs_dir + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(docs_dir)
    )
    q = (
        curated_document_stream(stream)
        .writeStream.format("memory")
        .queryName("curated_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    out = spark.sql("SELECT doc_id FROM curated_out").collect()
    # 2 fails language, 3 fails quality, 4 is a cross-batch dup of 1
    assert [r.doc_id for r in out] == [1]


def test_prep_document_stream(spark, tmp_path):
    """Ingest-time prep: gates + DSIR score + vocab encoding on a real
    stream, artifacts fitted offline."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wc_vector_indexing_spark.operators.importance import fit_importance_model
    from wc_vector_indexing_spark.operators.vocab import vocab_with_ids
    from wc_vector_indexing_spark.streaming.incremental import prep_document_stream

    good = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for walking in the park with a good long book to read "
    ) * 2
    fit = spark.createDataFrame(
        [(100, good, "t"), (101, "flour butter dough oven", "w")],
        "doc_id long, text string, source string",
    )
    model = fit_importance_model(fit, F.col("source") == "t", n_buckets=256)
    vocab_ids = {
        r.token: r.token_id for r in vocab_with_ids(fit, k=50).collect()
    }

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("event_ts", T.TimestampType(), False),
        ]
    )
    d = str(tmp_path / "pdocs")
    spark.createDataFrame([Row(doc_id=1, text=good, event_ts=T0)], schema).write.parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        prep_document_stream(stream, model=model, vocab_ids=vocab_ids)
        .writeStream.format("memory")
        .queryName("prep_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    out = spark.sql("SELECT * FROM prep_out").collect()
    assert len(out) == 1
    row = out[0]
    assert row.log_weight > 0  # target-like doc scores positive
    assert len(row.token_ids) > 20 and -1 not in row.token_ids[:5]


class _FlakyStateStore:
    """Wraps the sync-state store: its MERGE raises while a marker file
    exists — lets a test crash a streaming batch at the LAST write
    (deletes + index upserts already landed, ledger MERGE did not), the
    torn-state worst case for exactly-once."""

    def __init__(self, inner, marker: str):
        self._inner = inner
        self._marker = marker

    def merge(self, *a, **kw):
        import os

        if os.path.exists(self._marker):
            raise RuntimeError("injected mid-batch failure before ledger MERGE")
        return self._inner.merge(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_checkpoint_restart_converges_to_single_run(spark, tmp_path):
    """T4 exactly-once, end to end (r5 verdict item 7): the stream dies
    MID-BATCH — after the batch's deletes and vector upserts landed but
    before the ledger MERGE committed (torn state) — then restarts from
    the same checkpoint. AvailableNow replays the uncommitted epoch; the
    idempotent key-based MERGEs must converge to exactly the state of a
    run that never failed."""
    import os

    from wc_vector_indexing_spark.operators.delta_sync import sync_products

    def run_pipeline(root, fail_first: bool):
        config = EngineConfig(
            model="fake-deterministic-64", chunking=ChunkingConfig(size=25, overlap=4)
        )
        raw_state = sync_state_store(spark, str(root / "state"))
        index = vector_index_store(spark, str(root / "index"))
        marker = str(root / "FAIL")
        state = _FlakyStateStore(raw_state, marker)
        backend = DeterministicEmbedder()
        products = spark.createDataFrame(
            [Row(product_id=i, text=f"Checkpoint product {i} body text.") for i in range(1, 5)]
        )
        # seed product 4 (the stream deletes it) and product 2 (updated)
        sync_products(
            products.filter("product_id in (2, 4)"), state, index, config, backend,
            text_col="text",
        )
        ev_dir = str(root / "events")
        spark.createDataFrame(
            [
                Row(product_id=1, change_type="save", event_ts=T0),
                Row(product_id=2, change_type="save", event_ts=T0 + timedelta(seconds=3)),
                Row(product_id=4, change_type="delete", event_ts=T0 + timedelta(seconds=5)),
            ],
            CHANGE_EVENT_SCHEMA,
        ).write.parquet(ev_dir)
        ckpt = str(root / "ckpt")

        def start():
            stream = spark.readStream.schema(CHANGE_EVENT_SCHEMA).parquet(ev_dir)
            return start_incremental_stream(
                stream, products, state, index, config, backend,
                checkpoint_dir=ckpt, text_col="text",
            )

        if fail_first:
            open(marker, "w").close()
            q = start()
            try:
                q.awaitTermination(120)
            except Exception:
                pass  # the injected failure surfaces here
            assert q.exception() is not None  # query really died mid-batch
            # torn state: the batch's deletes and vector upserts landed…
            assert index.read().filter("product_id = 4").count() == 0
            assert index.read().filter("product_id = 1").count() > 0
            # …but the ledger MERGE never committed product 1
            assert raw_state.read().filter("product_id = 1").count() == 0
            os.remove(marker)  # heal the store
        q = start()
        q.awaitTermination(120)
        q.stop()
        return raw_state, index

    s1, i1 = run_pipeline(tmp_path / "failed", fail_first=True)
    s2, i2 = run_pipeline(tmp_path / "clean", fail_first=False)

    def canon_state(store):
        drop = {"last_synced_at", "created_at", "updated_at"}
        cols = [c for c in store.schema.fieldNames() if c not in drop]
        return sorted(tuple(r) for r in store.read().select(*cols).collect())

    def canon_index(store):
        return sorted(
            (r.target, r.vector_id, r.product_id, r.chunk_index, r.chunk_sha,
             tuple(r.values))
            for r in store.read().collect()
        )

    assert canon_state(s1) == canon_state(s2)
    assert canon_index(i1) == canon_index(i2)
    assert len(canon_index(i1)) > 0


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The attribution join runs as a true watermarked stream-stream
    join (both sides readStream) and its output multiset equals the
    batch join of the same data — plus the plan really is a
    stream-stream join with state cleanup (watermarks on both sides),
    not a disguised static join."""
    from wc_vector_indexing_spark.streaming.incremental import interval_join_stream

    clicks, purchases = [], []
    for u in range(1, 6):
        for i in range(4):
            clicks.append((u * 100 + i, T0 + timedelta(minutes=3 * i), u, "click"))
        purchases.append((u * 1000, T0 + timedelta(minutes=10), u, "purchase"))
    purchases.append((9000, T0 + timedelta(minutes=90), 1, "purchase"))  # out of gap
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    spark.createDataFrame(clicks, schema).write.parquet(cdir)
    spark.createDataFrame(purchases, schema).write.parquet(pdir)

    batch = interval_join_stream(
        spark.read.parquet(pdir), spark.read.parquet(cdir), gap_seconds=600
    )
    expect = sorted((r.l_event_id, r.r_event_id) for r in batch.collect())
    assert expect  # in-gap pairs exist
    assert not any(l == 9000 for l, _ in expect)  # 90-min purchase out of gap

    out = str(tmp_path / "joined")
    q = (
        interval_join_stream(
            spark.readStream.schema(schema).parquet(pdir),
            spark.readStream.schema(schema).parquet(cdir),
            gap_seconds=600,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = sorted(
        (r.l_event_id, r.r_event_id) for r in spark.read.parquet(out).collect()
    )
    assert got == expect


def _article_html(i: int) -> str:
    """Distinct English article prose that passes the quality and
    language gates, wrapped in the usual link-dense chrome the
    extractor must strip."""
    return (
        "<html><body>"
        "<nav><a href='/'>Home</a> <a href='/a'>About</a> "
        "<a href='/c'>Contact</a> <a href='/s'>Shop</a></nav>"
        f"<p>Article number {i} opens with a long and perfectly ordinary "
        "English paragraph about the weather, the harvest, and the slow "
        "business of small towns, written plainly so that every quality "
        "heuristic is satisfied.</p>"
        f"<p>The second paragraph of article {i} continues in the same "
        "measured register, adding enough additional prose that the "
        "document is unambiguously real body text and not navigation "
        "chrome or boilerplate of any kind.</p>"
        "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a></footer>"
        "</body></html>"
    )


def test_crawl_stream_checkpoint_restart_converges_to_batch(spark, tmp_path):
    """The streaming raw-crawl front door (r6 verdict item 6): WARC
    archives dropped into a directory stream through parse → main-text
    extraction → prep (quality/lang gates + watermark dedup), with a
    stop/restart between two archive drops standing in for a crash.
    The restarted stream must (a) not re-emit drop 1's pages (file-source
    checkpoint), (b) drop a cross-archive duplicate via dedup STATE that
    survived the restart, and (c) converge to exactly the output of the
    batch composition (streaming=False) over the same files."""
    import shutil

    from wc_vector_indexing_spark.sources.warc import to_warc_bytes
    from wc_vector_indexing_spark.streaming.incremental import crawl_document_stream

    drop = tmp_path / "crawl"
    drop.mkdir()
    stage = tmp_path / "stage"
    stage.mkdir()

    def page(i: int, ts: str, url: str | None = None) -> dict:
        return {
            "url": url or f"https://ex.com/a{i}",
            "html": _article_html(i),
            "warc_date": ts,
        }

    warc1 = [page(1, "2024-01-01T00:00:01Z"), page(2, "2024-01-01T00:00:02Z"),
             page(3, "2024-01-01T00:00:03Z"),
             # chrome-only page: extraction yields no text -> filtered out
             {"url": "https://ex.com/nav", "warc_date": "2024-01-01T00:00:04Z",
              "html": "<nav><a href='/'>Home</a> <a href='/b'>Blog</a></nav>"}]
    # drop 2 carries two new pages plus an exact duplicate of page 2
    # (same url, same html): only dedup state persisted across the
    # restart can catch it.
    warc2 = [page(4, "2024-01-01T00:00:05Z"), page(5, "2024-01-01T00:00:06Z"),
             page(2, "2024-01-01T00:00:07Z")]
    (stage / "drop1.warc").write_bytes(to_warc_bytes(warc1, version="1.1"))
    (stage / "drop2.warc").write_bytes(to_warc_bytes(warc2, version="1.0"))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_available():
        q = (
            crawl_document_stream(spark, str(drop))
            .select("url", "text")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    shutil.copy(stage / "drop1.warc", drop / "drop1.warc")
    run_available()
    first = spark.read.parquet(out_dir)
    assert first.count() == 3  # chrome-only page gated out

    shutil.copy(stage / "drop2.warc", drop / "drop2.warc")
    run_available()  # restart from the same checkpoint

    got = [(r.url, r.text) for r in spark.read.parquet(out_dir).collect()]
    assert len(got) == len(set(got)) == 5  # no replays, dup dropped
    # exactly one row for the duplicated url, from either archive
    assert sum(1 for u, _ in got if u == "https://ex.com/a2") == 1

    batch = crawl_document_stream(spark, str(drop), streaming=False)
    want = [(r.url, r.text) for r in batch.select("url", "text").collect()]
    assert sorted(got) == sorted(want)


def test_feed_discovery_stream_checkpoint_restart_converges(spark, tmp_path):
    """The streaming crawl-DISCOVERY front door: feed/sitemap drops
    stream through parse → URL-frontier dedup with a stop/restart
    between drops. The restart must (a) not re-emit drop 1's URLs,
    (b) drop a cross-drop duplicate via dedup STATE that survived the
    restart, (c) quarantine a malformed feed as an error row without
    stalling the batch, and (d) converge to the batch composition's
    frontier over the same files."""
    import shutil

    from wc_vector_indexing_spark.sources.feeds import to_rss, to_atom, to_sitemap
    from wc_vector_indexing_spark.streaming.incremental import feed_discovery_stream

    drop = tmp_path / "feeds"
    drop.mkdir()
    stage = tmp_path / "stage"
    stage.mkdir()

    t0 = 1704067200
    rss = to_rss("r", [
        {"title": "A", "link": "https://ex.com/a", "published_ts": t0 + 60, "summary": "s"},
        {"title": "B", "link": "https://ex.com/b", "published_ts": t0 + 120, "summary": "s"},
    ])
    sitemap = to_sitemap([
        {"loc": "https://ex.com/b", "lastmod_ts": t0 + 130},  # dup within drop 1
        {"loc": "https://ex.com/c", "lastmod_ts": t0 + 140},
    ])
    atom = to_atom("a", [
        {"title": "C again", "link": "https://ex.com/c", "published_ts": t0 + 300, "summary": "s"},
        {"title": "D", "link": "https://ex.com/d", "published_ts": t0 + 360, "summary": "s"},
    ])
    (stage / "f1.xml").write_text(rss)
    (stage / "f2.xml").write_text(sitemap)
    (stage / "f3.xml").write_text(atom)
    (stage / "broken.xml").write_text("<rss><channel>")

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_available():
        q = (
            feed_discovery_stream(spark, str(drop))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    shutil.copy(stage / "f1.xml", drop / "f1.xml")
    shutil.copy(stage / "f2.xml", drop / "f2.xml")
    run_available()
    first = spark.read.parquet(out_dir)
    # a, b, c — the cross-feed duplicate of /b enqueued once
    assert sorted(r.url for r in first.collect()) == [
        "https://ex.com/a", "https://ex.com/b", "https://ex.com/c",
    ]

    shutil.copy(stage / "f3.xml", drop / "f3.xml")
    shutil.copy(stage / "broken.xml", drop / "broken.xml")
    run_available()  # restart from the same checkpoint

    rows = spark.read.parquet(out_dir).collect()
    urls = sorted(r.url for r in rows if r.url is not None)
    # /c re-announced by the atom feed: dedup state across the restart
    assert urls == ["https://ex.com/a", "https://ex.com/b",
                    "https://ex.com/c", "https://ex.com/d"]
    errors = [r for r in rows if r.error is not None]
    assert len(errors) == 1 and "XML parse" in errors[0].error
    assert errors[0].feed_path.endswith("broken.xml")

    batch = feed_discovery_stream(spark, str(drop), streaming=False)
    want = sorted(r.url for r in batch.collect() if r.url is not None)
    assert urls == want


def test_frontier_ops_stream_restart_converges(spark, tmp_path):
    """The crawl-ops streaming loop (r12 verdict item 6): capture
    shards dropped into a directory stream through the ledger-append →
    priority-refresh → schedule-replace loop, with a stop/restart
    between drops standing in for a crash. The restarted stream must
    (a) not re-process drop 1's shards (file-source checkpoint),
    (b) collapse a re-delivered observation via the ledger's
    observation-key dedup, and (c) leave a schedule EXACTLY equal to
    the batch composition (frontier_ops_plan) over the same shards."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from wc_vector_indexing_spark.streaming.incremental import (
        frontier_ops_plan,
        start_frontier_ops_stream,
    )

    caps_dir = tmp_path / "caps"
    caps_dir.mkdir()
    store = str(tmp_path / "ledger")
    sched = str(tmp_path / "schedule")
    ckpt = str(tmp_path / "ckpt")

    def shard(name, rows):
        pq.write_table(
            pa.table(
                {
                    "url": pa.array([r[0] for r in rows], pa.string()),
                    "host": pa.array([r[1] for r in rows], pa.string()),
                    "ts": pa.array([r[2] for r in rows], pa.float64()),
                    "digest": pa.array([r[3] for r in rows], pa.string()),
                }
            ),
            str(caps_dir / name),
        )

    politeness = spark.createDataFrame([Row(host="h0", crawl_delay_s=2.0)])
    now = 10 * 86400.0

    def run():
        q = start_frontier_ops_stream(
            spark, str(caps_dir), store_dir=store, schedule_dir=sched,
            checkpoint_dir=ckpt, now_ts=now, politeness=politeness,
            n_fetchers=4)
        q.awaitTermination(120)
        q.stop()

    d1 = [
        ("https://h0/a", "h0", 0.0, "a1"),
        ("https://h0/a", "h0", 43200.0, "a2"),   # changes
        ("https://h0/b", "h0", 0.0, "b1"),
        ("https://h0/b", "h0", 43200.0, "b1"),   # never changes
        ("https://h1/c", "h1", 0.0, "c1"),       # single capture
    ]
    shard("drop1.parquet", d1)
    run()
    first = {r.url: r for r in spark.read.parquet(sched).collect()}
    assert set(first) == {"https://h0/a", "https://h0/b", "https://h1/c"}
    # changing url outranks the static one on its host
    assert first["https://h0/a"].slot == 0
    assert first["https://h0/b"].scheduled_offset_s == 2.0  # planted delay

    # drop 2: a new capture for u_a, a brand-new url on h1, plus a
    # RE-DELIVERED drop-1 observation (at-least-once ledger append)
    d2 = [
        ("https://h0/a", "h0", 86400.0, "a3"),
        ("https://h1/d", "h1", 86400.0, "d1"),
        ("https://h0/b", "h0", 43200.0, "b1"),   # replayed observation
    ]
    shard("drop2.parquet", d2)
    run()  # restart from the same checkpoint

    got = sorted(
        (r.url, r.host, r.slot, r.scheduled_offset_s, r.fetcher)
        for r in spark.read.parquet(sched).collect()
    )
    batch = frontier_ops_plan(
        spark.read.schema(
            "url string, host string, ts double, digest string"
        ).parquet(str(caps_dir / "*.parquet")),
        politeness, now_ts=now, n_fetchers=4)
    want = sorted(
        (r.url, r.host, r.slot, r.scheduled_offset_s, r.fetcher)
        for r in batch.collect()
    )
    assert got == want
    # the replayed observation did NOT inflate n_obs: the ledger holds
    # exactly the distinct observation set
    from wc_vector_indexing_spark.operators.frontier import recrawl_priority

    ledger = spark.read.parquet(store)
    assert ledger.count() == 8 and \
        ledger.dropDuplicates(["url", "ts", "digest"]).count() == 7
    pri = {r.url: r.n_obs for r in recrawl_priority(
        ledger.dropDuplicates(["url", "ts", "digest"]), now_ts=now
    ).collect()}
    assert pri["https://h0/b"] == 2
