"""Delta cases A-E (dev-plan :1524-1531) — the engine's acceptance core:

  A first index      ⇒ upsert all, state rows 'synced'
  B no change        ⇒ ZERO chunks embedded/upserted, timestamps touched
  C one chunk changed⇒ only that chunk re-embedded/upserted
  D chunk count shrank⇒ stale chunk deleted from index + state
  E model changed    ⇒ full rebuild of affected product
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wc_vector_indexing_spark.config import ChunkingConfig, EngineConfig
from wc_vector_indexing_spark.operators.delta_sync import (
    delete_products,
    diff,
    purge_site,
    sync_products,
)
from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder
from wc_vector_indexing_spark.operators.indexer import build_chunks
from wc_vector_indexing_spark.state.store import sync_state_store, vector_index_store

def mklong(tag: int) -> str:
    return " ".join(f"Document {tag} sentence number {i} is here." for i in range(30))


def mk_products(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [Row(product_id=pid, text=t) for pid, t in sorted(texts.items())]
    )


@pytest.fixture()
def env(spark, tmp_path):
    config = EngineConfig(
        model="fake-deterministic-64", chunking=ChunkingConfig(size=25, overlap=4)
    )
    state = sync_state_store(spark, str(tmp_path / "state"))
    index = vector_index_store(spark, str(tmp_path / "index"))
    backend = DeterministicEmbedder()
    return config, state, index, backend


def run_sync(spark, env, texts, force=False):
    config, state, index, backend = env
    return sync_products(
        mk_products(spark, texts), state, index, config, backend, text_col="text", force=force
    )["local"]


def test_case_a_first_index(spark, env):
    config, state, index, _ = env
    s = run_sync(spark, env, {1: mklong(1), 2: "short doc one."})
    assert s.upserted > 0 and s.deleted == 0 and s.skipped_products == 0
    st = state.read().collect()
    assert st and all(r.status == "synced" for r in st)
    assert index.read().count() == s.upserted
    # vector ids deterministic
    ids = {r.vector_id for r in index.read().collect()}
    assert "site-1:product-2:chunk-0" in ids


def test_case_b_unchanged_zero_work(spark, env):
    config, state, index, backend = env
    texts = {1: mklong(1), 2: "short doc one."}
    run_sync(spark, env, texts)
    before = {(r.vector_id, r.chunk_sha) for r in index.read().collect()}
    ts_before = {r.vector_id: r.last_synced_at for r in state.read().collect()}

    # plan-level assertion: the diff classifies zero chunks for embedding
    chunks = build_chunks(mk_products(spark, texts), config, text_col="text")
    plan = diff(chunks, state.read().filter(F.col("target") == "local"), config)
    assert plan.to_upsert.count() == 0
    assert plan.to_delete.count() == 0
    assert plan.unchanged.count() == 2

    s = run_sync(spark, env, texts)
    assert s.upserted == 0 and s.deleted == 0 and s.skipped_products == 2
    after = {(r.vector_id, r.chunk_sha) for r in index.read().collect()}
    assert before == after  # index untouched
    ts_after = {r.vector_id: r.last_synced_at for r in state.read().collect()}
    assert all(ts_after[k] >= ts_before[k] for k in ts_before)  # touched


def test_case_c_one_chunk_changed(spark, env):
    config, state, index, _ = env
    texts = {1: mklong(1), 2: "short doc one."}
    run_sync(spark, env, texts)
    n_chunks_p1 = index.read().filter(F.col("product_id") == 1).count()
    assert n_chunks_p1 >= 3

    # change ONLY the last sentence of product 1 → only trailing chunk(s)
    # change; product 2 untouched
    texts2 = {1: mklong(1) + " A brand new ending sentence.", 2: "short doc one."}
    chunks = build_chunks(mk_products(spark, texts2), config, text_col="text")
    plan = diff(chunks, state.read().filter(F.col("target") == "local"), config)
    up = plan.to_upsert.select("product_id", "chunk_index").collect()
    assert all(r.product_id == 1 for r in up)
    assert 0 < len(up) < n_chunks_p1  # strictly fewer than all chunks

    s = run_sync(spark, env, texts2)
    assert s.upserted == len(up)
    assert s.skipped_products == 1  # product 2


def test_case_d_chunk_count_shrank(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {1: mklong(1)})
    n_before = index.read().count()
    s = run_sync(spark, env, {1: "now a tiny doc."})
    assert s.deleted > 0
    n_after = index.read().count()
    assert n_after < n_before
    # state has no rows beyond the new chunk set
    assert state.read().filter(F.col("product_id") == 1).count() == n_after


def test_case_e_model_change_rebuilds(spark, env):
    config, state, index, backend = env
    texts = {1: mklong(1)}
    run_sync(spark, env, texts)
    n = index.read().count()

    config2 = EngineConfig(
        model="fake-deterministic-256", chunking=ChunkingConfig(size=25, overlap=4)
    )
    chunks = build_chunks(mk_products(spark, texts), config2, text_col="text")
    plan = diff(chunks, state.read().filter(F.col("target") == "local"), config2)
    assert plan.rebuild.count() == 1
    assert plan.to_upsert.count() == n  # every chunk re-embeds
    assert plan.unchanged.count() == 0

    s2 = sync_products(
        mk_products(spark, texts), state, index,
        config2, DeterministicEmbedder("fake-deterministic-256"), text_col="text",
    )["local"]
    assert s2.upserted == n
    st = state.read().collect()
    assert all(r.model == "fake-deterministic-256" and r.dimension == 256 for r in st)
    dims = {len(r.values) for r in index.read().collect()}
    assert dims == {256}


def test_force_overrides_short_circuit(spark, env):
    texts = {1: "stable text."}
    run_sync(spark, env, texts)
    s = run_sync(spark, env, texts, force=True)
    assert s.upserted > 0 and s.skipped_products == 0


def test_created_at_immutable(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {1: "v one text."})
    created = {r.vector_id: r.created_at for r in state.read().collect()}
    run_sync(spark, env, {1: "v two text, changed."})
    after = {r.vector_id: r.created_at for r in state.read().collect()}
    for vid, ts in created.items():
        if vid in after:
            assert after[vid] == ts


def test_vacuum_respects_read_leases(spark, tmp_path):
    import os

    store = sync_state_store(spark, str(tmp_path / "st"))
    row = {f.name: None for f in store.schema.fields}
    row.update(site_id=1, product_id=1, target="local", chunk_index=0,
               vector_id="v1", status="synced")
    store.overwrite(spark.createDataFrame([Row(**row)], store.schema))  # v1
    lazy = store.read()  # leases v1
    for i in range(5):  # v2..v6 — without the lease, keep=3 would drop v1
        store.update_where(F.lit(True), {"error_code": F.lit(f"touch{i}")})
    assert os.path.isdir(store._version_dir(1))
    # the leased snapshot is still fully recomputable (not just cached)
    assert lazy.count() == 1
    store.release_leases()
    assert not os.path.isdir(store._version_dir(1))
    assert os.path.isdir(store._version_dir(store.current_version()))


def test_delete_products_and_purge(spark, env):
    config, state, index, _ = env
    run_sync(spark, env, {1: mklong(1), 2: "keep me."})
    n = delete_products([1], state, index)
    assert n > 0
    assert index.read().filter(F.col("product_id") == 1).count() == 0
    assert state.read().filter(F.col("product_id") == 1).count() == 0
    assert index.read().filter(F.col("product_id") == 2).count() > 0

    purged = purge_site(1, state, index)
    assert purged > 0
    assert index.read().count() == 0 and state.read().count() == 0


def test_multi_target_sync(spark, tmp_path):
    config = EngineConfig(
        model="fake-deterministic-64",
        chunking=ChunkingConfig(size=25, overlap=4),
        targets=("local", "pinecone"),
    )
    state = sync_state_store(spark, str(tmp_path / "state2"))
    index = vector_index_store(spark, str(tmp_path / "index2"))
    res = sync_products(
        mk_products(spark, {1: "two targets."}), state, index,
        config, DeterministicEmbedder(), text_col="text",
    )
    assert set(res) == {"local", "pinecone"}
    assert state.read().select("target").distinct().count() == 2


def _cached_relations(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_resync_commits_once_per_store_and_skips_every_product(spark, env):
    """After a tail edit only the edited chunk carries the new
    product_sha, so the ledger's max(product_sha) can be the stale one.
    The identical re-sync must still skip every product; each re-sync
    commits each store at most once and leaves no cached relation."""
    import hashlib

    config, state, index, _ = env

    def product_sha(text: str) -> str:
        payload = config.fingerprint_payload_json() + "\n" + text
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()

    base = mklong(1)
    # a tail edit whose new product_sha sorts below the old one
    edited = next(
        e for e in (f"{base} Ending {i}." for i in range(100))
        if product_sha(e) < product_sha(base)
    )
    texts = {1: base, 2: "short doc one."}
    cached = _cached_relations(spark)
    run_sync(spark, env, texts)
    assert _cached_relations(spark) == cached

    texts[1] = edited
    v_state, v_index = state.current_version(), index.current_version()
    s = run_sync(spark, env, texts)
    assert s.upserted > 0 and s.skipped_products == 1
    assert (state.current_version(), index.current_version()) == (v_state + 1, v_index + 1)
    shas = {r.product_sha for r in state.read().filter("product_id = 1").collect()}
    assert max(shas) == product_sha(base) != product_sha(edited)  # stale sha is the max

    s = run_sync(spark, env, texts)
    assert s.upserted == s.deleted == 0
    assert s.skipped_products == len(texts)
    assert (state.current_version(), index.current_version()) == (v_state + 2, v_index + 1)
    assert _cached_relations(spark) == cached
