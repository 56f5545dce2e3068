"""Bucket-level copy-on-write in ParquetMergeStore (r5 verdict item 2):
a MERGE/keyed-DELETE must rewrite only the buckets its keys hash into —
every other bucket's data files carry over BY REFERENCE in the new
manifest (same paths, no rewrite), matching the Delta MERGE cost model
the store stands in for."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from wc_vector_indexing_spark.state.store import (
    SYNC_STATE_SCHEMA,
    sync_state_store,
)


def _row(pid: int, chunk: int = 0, **kw):
    base = {f.name: None for f in SYNC_STATE_SCHEMA.fields}
    base.update(
        site_id=1,
        product_id=pid,
        target="local",
        chunk_index=chunk,
        vector_id=f"v{pid}:{chunk}",
        status="synced",
        created_at=datetime.datetime(2026, 1, 1),
    )
    base.update(kw)
    return Row(**base)


def _seed(spark, store, n_products: int = 60):
    df = spark.createDataFrame(
        [_row(p, c) for p in range(n_products) for c in range(2)], store.schema
    )
    store.overwrite(df)


def _manifest(store):
    with open(store._manifest_path(store.current_version())) as f:
        return json.load(f)["buckets"]


def test_single_product_merge_rewrites_one_bucket(spark, tmp_path):
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store)
    before = _manifest(store)
    assert len(before) > 4  # seed actually spread across buckets

    upd = spark.createDataFrame([_row(7, 0, status="pending")], store.schema)
    store.merge(upd)
    after = _manifest(store)

    changed = [b for b in before if after.get(b) != before[b]]
    # exactly the bucket product 7 hashes into was rewritten…
    assert len(changed) == 1
    # …and every other bucket still points at the SAME physical files
    same = [b for b in before if b not in changed]
    assert same and all(after[b] == before[b] for b in same)
    # the new files live in a fresh data dir; old files were not touched
    assert all(f.startswith(f"d{store.current_version():08d}") for f in after[changed[0]])
    for b in same:
        for f in before[b]:
            assert os.path.exists(os.path.join(store.root, f))
    # and the table contents are the full MERGE result
    got = store.read()
    assert got.count() == 120
    assert got.filter("product_id = 7 AND chunk_index = 0").first().status == "pending"


def test_delete_keys_prunes_buckets(spark, tmp_path):
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store)
    before = _manifest(store)

    keys = spark.createDataFrame([(3,)], "product_id long")
    store.delete_keys(keys, key_cols=["product_id"])
    after = _manifest(store)

    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1
    assert store.read().count() == 118
    assert store.read().filter("product_id = 3").count() == 0


def test_update_keys_prunes_buckets(spark, tmp_path):
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store)
    before = _manifest(store)
    keys = spark.createDataFrame([(11,)], "product_id long")
    store.update_keys(keys, {"status": F.lit("error")}, key_cols=["product_id"])
    after = _manifest(store)
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1
    assert store.read().filter("status = 'error'").count() == 2
    assert store.read().count() == 120


def test_non_bucket_keyed_delete_takes_full_path(spark, tmp_path):
    """A key frame without the bucket column can't prune — correctness
    over speed: the delete still lands, via the documented slow path."""
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store, n_products=10)
    keys = spark.createDataFrame([("v4:1",)], "vector_id string")
    store.delete_keys(keys, key_cols=["vector_id"])
    assert store.read().count() == 19
    assert store.read().filter("vector_id = 'v4:1'").count() == 0


def test_merge_duplicate_keys_still_hard_error(spark, tmp_path):
    store = sync_state_store(spark, str(tmp_path / "st"))
    upd = spark.createDataFrame([_row(1, 0), _row(1, 0)], store.schema)
    with pytest.raises(ValueError, match="not unique"):
        store.merge(upd)


def test_created_at_preserved_across_bucketed_merge(spark, tmp_path):
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store, n_products=5)
    orig = store.read().filter("product_id = 2 AND chunk_index = 0").first().created_at
    upd = spark.createDataFrame(
        [_row(2, 0, status="pending", created_at=datetime.datetime(2030, 6, 6))],
        store.schema,
    )
    store.merge(upd)
    row = store.read().filter("product_id = 2 AND chunk_index = 0").first()
    assert row.status == "pending"
    assert row.created_at == orig  # immutable survives the bucket rewrite


def test_legacy_snapshot_migrates_then_prunes(spark, tmp_path):
    """A store written by the pre-manifest layout (bare parquet in the
    version dir) is readable; the first merge migrates it to the
    bucketed layout in one full rewrite, after which pruning kicks in."""
    store = sync_state_store(spark, str(tmp_path / "st"))
    legacy = spark.createDataFrame([_row(p) for p in range(20)], store.schema)
    # simulate the old writer: bare parquet + _LATEST, no manifest
    legacy.write.mode("overwrite").parquet(store._version_dir(1))
    with open(store._latest_path(), "w") as f:
        f.write("1")
    assert store.read().count() == 20

    store.merge(spark.createDataFrame([_row(3, 0, status="pending")], store.schema))
    assert os.path.exists(store._manifest_path(store.current_version()))
    assert store.read().count() == 20
    assert store.read().filter("product_id = 3").first().status == "pending"

    before = _manifest(store)
    store.merge(spark.createDataFrame([_row(5, 0, status="error")], store.schema))
    after = _manifest(store)
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1  # post-migration merges prune again


def test_vacuum_refcounts_shared_data_dirs(spark, tmp_path):
    """Old data dirs must survive vacuum as long as ANY retained
    manifest references a file inside them — untouched buckets keep
    pointing at the original seed files across many publishes."""
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store)
    seed_dir = f"d{store.current_version():08d}"
    for i in range(6):  # publishes v2..v7; keep=3 drops v1..v4 manifests
        store.merge(
            spark.createDataFrame([_row(7, 0, status=f"s{i}")], store.schema)
        )
        store.release_leases()
    assert not os.path.isdir(store._version_dir(1))
    # the seed dir still backs every untouched bucket in the live manifest
    assert os.path.isdir(os.path.join(store.root, seed_dir))
    assert any(f.startswith(seed_dir) for fs in _manifest(store).values() for f in fs)
    assert store.read().count() == 120


def test_time_travel_reads_retained_versions(spark, tmp_path):
    """Manifest snapshots give Delta-style VERSION AS OF: each retained
    version reads back exactly as it was at publish time, vacuum
    refuses only versions it actually dropped, and a leased old version
    survives further publishes."""
    store = sync_state_store(spark, str(tmp_path / "st"))
    _seed(spark, store, n_products=6)                      # v1
    store.merge(spark.createDataFrame([_row(2, 0, status="pending")], store.schema))  # v2
    store.merge(spark.createDataFrame([_row(3, 0, status="error")], store.schema))    # v3

    assert store.versions() == [1, 2, 3]
    v1 = store.read(version=1)
    assert v1.filter("status <> 'synced'").count() == 0      # pristine seed
    assert store.read(version=2).filter("status = 'pending'").count() == 1
    assert store.read(version=2).filter("status = 'error'").count() == 0
    assert store.read().filter("status = 'error'").count() == 1

    # v1 is leased by the read above: three more publishes (keep=3)
    # must not break its recompute
    for i in range(3):
        store.merge(spark.createDataFrame([_row(4, 0, status=f"s{i}")], store.schema))
    assert v1.count() == 12
    store.release_leases()
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=1)


def test_delete_products_rewrites_only_their_bucket(spark, tmp_path):
    """Deleting one product of many rewrites only the bucket it hashes
    into, in both stores, and reports the index rows it removed."""
    from wc_vector_indexing_spark.operators.delta_sync import delete_products
    from wc_vector_indexing_spark.state.store import vector_index_store

    state = sync_state_store(spark, str(tmp_path / "st"))
    index = vector_index_store(spark, str(tmp_path / "ix"))
    _seed(spark, state)
    index.overwrite(spark.createDataFrame(
        [("local", f"v{p}:{c}", p, c) for p in range(60) for c in range(2)],
        "target string, vector_id string, product_id long, chunk_index int",
    ))
    before = [_manifest(s) for s in (state, index)]

    assert delete_products([7], state, index) == 2

    for store, old in zip((state, index), before):
        new = _manifest(store)
        assert len([b for b in old if new.get(b) != old[b]]) == 1
        assert store.read().count() == 118
        assert store.read().filter("product_id = 7").count() == 0
