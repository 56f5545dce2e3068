"""Parquet-backed MERGE store — the engine's transactional table layer.

The reference keeps its sync ledger in a MySQL table with
``INSERT ... ON DUPLICATE KEY UPDATE`` upserts (W1,
class-storage.php:59-119) and keyed deletes (W2, :126-171). Spark has no
in-place mutation, so the store implements MERGE as snapshot
replacement with BUCKET-LEVEL copy-on-write:

    root/
      d00000001/__b=K/part-*.parquet   immutable bucket data files
      d00000002/__b=K/part-*.parquet   (written once, never rewritten)
      v00000001/_MANIFEST.json         snapshot = {bucket -> data files}
      v00000002/_MANIFEST.json
      _LATEST                          text file naming the live version

Rows hash into ``n_buckets`` buckets on ``bucket_cols``
(pmod(xxhash64(cols), n)). Every keyed write — ``merge`` (with optional
deletes, so a sync commits its stale deletes and its upserts as one
MERGE), ``delete_keys`` and ``update_keys`` — goes through one private
rewrite: derive the touched buckets from the key frame, read ONLY those
buckets' files, compute their new contents, write them into a new data
dir, and publish a new manifest that maps the touched buckets to the
new files while every untouched bucket keeps pointing at its existing
files. Write cost is therefore proportional to the buckets a write
touches, not the table — the same cost model as Delta/Iceberg ``MERGE
INTO`` with file-level pruning, which this store stands in for
(manifests instead of transaction logs; on a real cluster swap the
class for a Delta table, every call site keeps its semantics). A 100 TB
ledger at n_buckets=1024 pays ~0.1% of a full rewrite for a
single-product incremental sync instead of 100%.

Publishing stays atomic: data files land first, then the manifest,
then ``_LATEST`` flips via write-temp + rename. Readers resolve
``_LATEST`` once per read, giving snapshot isolation; a crashed writer
leaves only orphan files for vacuum. Vacuum is reference-counted: a
data dir survives as long as ANY retained or leased manifest references
a file inside it.

Operations that cannot name their keys (``delete_where`` /
``update_where`` with arbitrary predicates, ``overwrite``) take the
documented slow path — a full-table rewrite — exactly as Delta does
when a predicate prunes nothing.

The SYNC_STATE schema mirrors the reference DDL (class-plugin.php:107-131,
FIXTURES.md §8); unique keys (target, product_id, chunk_index) /
(target, vector_id) become the MERGE join keys.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYNC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("site_id", T.LongType(), False),
        T.StructField("product_id", T.LongType(), False),
        T.StructField("target", T.StringType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("vector_id", T.StringType(), False),
        T.StructField("product_sha", T.StringType(), True),
        T.StructField("chunk_sha", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("dimension", T.IntegerType(), True),
        T.StructField("remote_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error_code", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
        T.StructField("last_synced_at", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

STATE_KEYS = ["target", "product_id", "chunk_index"]

VECTOR_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("target", T.StringType(), False),
        T.StructField("vector_id", T.StringType(), False),
        T.StructField("product_id", T.LongType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("chunk_text", T.StringType(), True),
        T.StructField("values", T.ArrayType(T.FloatType()), True),
        T.StructField("product_sha", T.StringType(), True),
        T.StructField("chunk_sha", T.StringType(), True),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("site_id", T.LongType(), True),
                    T.StructField("product_id", T.LongType(), True),
                    T.StructField("sku", T.StringType(), True),
                    T.StructField("url", T.StringType(), True),
                    T.StructField("updated_at", T.StringType(), True),
                    T.StructField("fingerprint", T.StringType(), True),
                    T.StructField("fields", T.ArrayType(T.StringType()), True),
                ]
            ),
            True,
        ),
    ]
)

INDEX_KEYS = ["target", "vector_id"]


class ParquetMergeStore:
    """A versioned parquet table supporting MERGE / DELETE / overwrite
    with bucket-level copy-on-write (see module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        keys: list[str],
        bucket_cols: list[str] | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.keys = keys
        # bucket on a column every update batch carries (product_id for
        # both engine stores: state updates and vector upserts are
        # per-product by construction). 16 locally; 1024 at 100 TB —
        # the knob trades rewrite granularity against file count.
        self.bucket_cols = bucket_cols or [keys[-1] if len(keys) == 1 else "product_id"]
        self.n_buckets = n_buckets
        # Versions handed out by read() and possibly still referenced by
        # live lazy plans. A sync cycle publishes several snapshots while
        # its DeltaPlan DataFrames lazily re-read the version seen at
        # diff time; without the lease, _vacuum(keep=3) deletes that dir
        # after the 3rd publish and any recompute (executor loss, cache
        # eviction) of the 4th write fails. Process-local by design —
        # there is one driver; cross-driver retention is a Delta/Iceberg
        # concern, not this store's.
        self._leased: set[int] = set()
        os.makedirs(root, exist_ok=True)

    # -- snapshot plumbing -------------------------------------------------

    def _latest_path(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def current_version(self) -> int:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v:08d}")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self._version_dir(v), "_MANIFEST.json")

    def _manifest(self, v: int) -> dict[int, list[str]] | None:
        """bucket -> root-relative data files for snapshot ``v``; None
        for a legacy (pre-manifest) snapshot dir holding bare parquet."""
        try:
            with open(self._manifest_path(v)) as f:
                raw = json.load(f)
        except FileNotFoundError:
            return None
        return {int(k): v for k, v in raw["buckets"].items()}

    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.bucket_cols]), F.lit(self.n_buckets))

    def _files_of(self, manifest: dict[int, list[str]], buckets=None) -> list[str]:
        out: list[str] = []
        for b, files in sorted(manifest.items()):
            if buckets is None or b in buckets:
                out.extend(os.path.join(self.root, f) for f in files)
        return out

    def _read_files(self, files: list[str]) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*files)

    def _read_buckets(self, buckets: set[int]) -> DataFrame:
        """Current snapshot restricted to ``buckets`` — file-list
        pruning via the manifest (the Delta-style partition prune that
        makes MERGE cost ∝ touched buckets). Legacy snapshots fall back
        to a full scan + bucket filter."""
        v = self.current_version()
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        self._leased.add(v)
        manifest = self._manifest(v)
        if manifest is None:  # legacy layout: no file-level pruning
            df = self.spark.read.schema(self.schema).parquet(self._version_dir(v))
            return df.filter(self._bucket_expr().isin(*[int(b) for b in buckets]))
        return self._read_files(self._files_of(manifest, buckets))

    def _write_buckets(self, df: DataFrame, v: int, n_touched: int) -> dict[int, list[str]]:
        """Write ``df`` into a fresh immutable data dir, one hive level
        per bucket, and return the bucket -> relative-file mapping.
        Hash-repartitioned on the bucket column first so each bucket is
        written by exactly one task (no small-file fan-out)."""
        ddir = os.path.join(self.root, f"d{v:08d}")
        (
            df.withColumn("__b", self._bucket_expr())
            .repartition(max(1, min(n_touched, 32)), "__b")
            .write.mode("overwrite")
            .partitionBy("__b")
            .parquet(ddir)
        )
        mapping: dict[int, list[str]] = {}
        for name in os.listdir(ddir):
            if not name.startswith("__b="):
                continue
            b = int(name.split("=", 1)[1])
            bdir = os.path.join(ddir, name)
            mapping[b] = sorted(
                os.path.join(f"d{v:08d}", name, f)
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            )
        return mapping

    def _flip(self, v: int, manifest: dict[int, list[str]]) -> int:
        os.makedirs(self._version_dir(v), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_MANIFEST.")
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"n_buckets": self.n_buckets, "bucket_cols": self.bucket_cols,
                 "buckets": {str(k): sorted(files) for k, files in manifest.items() if files}},
                f,
            )
        os.replace(tmp, self._manifest_path(v))
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_LATEST.")
        with os.fdopen(fd, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._latest_path())  # atomic on POSIX
        self._vacuum(keep=3)
        return v

    def _publish_full(self, df: DataFrame) -> int:
        """Slow path: full-table rewrite (overwrite / arbitrary-predicate
        updates — the no-pruning case, same cost as Delta without a
        matching predicate)."""
        v = self.current_version() + 1
        mapping = self._write_buckets(df, v, self.n_buckets)
        return self._flip(v, mapping)

    def _publish_buckets(self, df_touched: DataFrame, touched: set[int]) -> int:
        """Fast path: ``df_touched`` holds the complete new contents of
        exactly the ``touched`` buckets; every other bucket's manifest
        entry carries over unchanged (its data files are not read,
        copied, or rewritten)."""
        base = self._manifest(self.current_version()) or {}
        v = self.current_version() + 1
        mapping = self._write_buckets(df_touched, v, len(touched))
        merged = {b: files for b, files in base.items() if b not in touched}
        merged.update(mapping)
        return self._flip(v, merged)

    def _touched_buckets(self, keyed_df: DataFrame) -> set[int]:
        """Distinct buckets hit by a key frame — bounded by n_buckets,
        so the collect is a ≤n_buckets-row aggregate, never row data."""
        rows = (
            keyed_df.select(self._bucket_expr().alias("__b")).distinct().collect()
        )
        return {int(r["__b"]) for r in rows}

    def _is_legacy(self) -> bool:
        v = self.current_version()
        return v > 0 and self._manifest(v) is None

    def _vacuum(self, keep: int) -> None:
        """Drop snapshot manifests older than the newest ``keep`` (≙
        Delta VACUUM) and any data dir no retained or leased manifest
        references. Versions leased out by read() are never dropped — a
        lazy plan may still recompute against them (release_leases()
        when the plans are dead)."""
        live = self.current_version()
        retained: set[int] = set()
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                v = int(name[1:])
                if v > live - keep or v in self._leased:
                    retained.add(v)
                else:
                    shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        referenced: set[str] = set()
        for v in retained:
            m = self._manifest(v)
            if m is None:
                continue
            for files in m.values():
                for f in files:
                    referenced.add(f.split(os.sep, 1)[0])
        for name in os.listdir(self.root):
            if name.startswith("d") and name[1:].isdigit() and name not in referenced:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def release_leases(self) -> None:
        """Declare all previously read() snapshots dead (no live plan
        references them) and vacuum whatever the leases were pinning."""
        self._leased.clear()
        self._vacuum(keep=3)

    # -- reads -------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Read the live snapshot, or — time travel — any retained
        ``version`` (≙ Delta ``VERSION AS OF``): manifests make old
        snapshots first-class, since their files are immutable and
        vacuum refcounts keep every referenced data dir alive. Reading
        a version leases it, protecting it from vacuum until
        release_leases()."""
        v = self.current_version() if version is None else version
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        if version is not None and not os.path.isdir(self._version_dir(v)):
            raise ValueError(
                f"version {v} not retained (vacuum keeps the newest 3 "
                "plus leased snapshots)"
            )
        self._leased.add(v)
        manifest = self._manifest(v)
        if manifest is None:  # legacy snapshot written pre-manifest
            return self.spark.read.schema(self.schema).parquet(self._version_dir(v))
        return self._read_files(self._files_of(manifest))

    def versions(self) -> list[int]:
        """Retained snapshot versions, oldest first (≙ DESCRIBE HISTORY)."""
        out = [
            int(name[1:])
            for name in os.listdir(self.root)
            if name.startswith("v") and name[1:].isdigit()
        ]
        return sorted(out)

    def is_empty(self) -> bool:
        return self.current_version() == 0 or self.read().isEmpty()

    # -- writes ------------------------------------------------------------

    def overwrite(self, df: DataFrame) -> int:
        return self._publish_full(self._conform(df))

    def merge(
        self,
        updates: DataFrame,
        immutable_cols: tuple[str, ...] = ("created_at",),
        deletes: DataFrame | None = None,
    ) -> int:
        """MERGE: WHEN MATCHED UPDATE all columns (except immutables,
        which keep the target's value), WHEN NOT MATCHED INSERT, and —
        with ``deletes`` — WHEN MATCHED (key in deletes) DELETE, all in
        one publish (≙ Delta ``MERGE … WHEN MATCHED … DELETE / UPDATE …
        WHEN NOT MATCHED INSERT``). ``deletes`` carries ``self.keys``
        plus the bucket columns; a key in both frames is updated.

        ``updates`` must be unique on ``self.keys`` — enforced here with
        a hard error rather than silently keeping one row (SURVEY §7.4
        risk 4: nondeterministic dedupe would poison fingerprint state).

        Cost ∝ touched buckets: only buckets the update and delete keys
        hash into are read and rewritten (W1 at 100 TB = a per-product
        bucket rewrite, not a table rewrite)."""
        updates = self._conform(updates).cache()
        try:
            dup = updates.groupBy(*self.keys).count().filter(F.col("count") > 1)
            if dup.limit(1).count() > 0:
                sample = [r.asDict() for r in dup.limit(3).collect()]
                raise ValueError(f"merge updates not unique on {self.keys}: {sample}")

            key_cols = list(dict.fromkeys([*self.keys, *self.bucket_cols]))
            keys = updates.select(*key_cols)
            if deletes is not None:
                keys = keys.unionByName(deletes.select(*key_cols))

            def merged(current: DataFrame) -> DataFrame:
                new = updates
                for c in immutable_cols:
                    if c in current.columns:
                        old = current.select(*self.keys, F.col(c).alias("__old"))
                        new = new.join(old, self.keys, "left").withColumn(
                            c, F.coalesce("__old", c)
                        ).drop("__old")
                untouched = current.join(keys.select(*self.keys), self.keys, "left_anti")
                return untouched.unionByName(new.select(*self.schema.fieldNames()))

            return self._rewrite(keys, merged)
        finally:
            updates.unpersist()

    def delete_where(self, condition) -> int:
        """DELETE FROM t WHERE condition (anti-filter rewrite, W2).
        Arbitrary predicate ⇒ no bucket pruning ⇒ full rewrite (the
        Delta no-matching-predicate slow path)."""
        return self._publish_full(self.read().filter(~condition))

    def delete_keys(self, keys_df: DataFrame, key_cols: list[str] | None = None) -> int:
        """DELETE rows whose key tuple appears in ``keys_df`` (anti-join
        rewrite of `WHERE (k1,k2) IN (...)`, W2). Distributed — no
        driver-side key collection. Bucket-pruned whenever the key frame
        carries the bucket columns."""
        key_cols = key_cols or self.keys
        keys = keys_df.select(*key_cols)
        return self._rewrite(keys, lambda cur: cur.join(keys, key_cols, "left_anti"))

    def update_where(self, condition, assignments: dict[str, F.Column]) -> int:
        """UPDATE t SET ... WHERE condition (W3/W4 error-marking and
        timestamp-touch writes). Arbitrary predicate ⇒ full rewrite."""
        current = self.read()
        updated = current
        for col, expr in assignments.items():
            updated = updated.withColumn(col, F.when(condition, expr).otherwise(F.col(col)))
        return self._publish_full(updated)

    def update_keys(
        self, keys_df: DataFrame, assignments: dict[str, F.Column], key_cols: list[str]
    ) -> int:
        """UPDATE rows whose key tuple appears in ``keys_df`` — the
        distributed form of `UPDATE ... WHERE key IN (...)`: a left-semi
        marker join instead of a driver-side id list, so a corpus-wide
        timestamp touch never collects keys. Bucket-pruned when the key
        frame carries the bucket columns."""
        keys_only = keys_df.select(*key_cols).distinct()

        def updated(current: DataFrame) -> DataFrame:
            out = current.join(keys_only.withColumn("__hit", F.lit(True)), key_cols, "left")
            hit = F.col("__hit").isNotNull()
            for col, expr in assignments.items():
                out = out.withColumn(col, F.when(hit, expr).otherwise(F.col(col)))
            return out.drop("__hit")

        return self._rewrite(keys_only, updated)

    def _rewrite(self, keys: DataFrame, contents) -> int:
        """The one keyed write path (merge / delete_keys / update_keys):
        ``contents(current)`` maps the current rows of the buckets
        ``keys`` hash into to those buckets' complete new contents,
        which replace them in one publish. A key frame without the
        bucket columns can't prune: the whole table is rewritten."""
        if not set(self.bucket_cols) <= set(keys.columns):
            return self._publish_full(contents(self.read()))
        touched = self._touched_buckets(keys)
        if not touched:  # no keys: the write is a no-op
            return self.current_version()
        new = contents(self._read_buckets(touched))
        if self._is_legacy():
            # one-time layout migration: the old snapshot has no
            # bucket->file mapping, so untouched buckets can't carry
            # over by reference — rewrite everything once
            rest = self.read().filter(~self._bucket_expr().isin(*touched))
            return self._publish_full(new.unionByName(rest))
        return self._publish_buckets(new, touched)

    # -- helpers -----------------------------------------------------------

    def _conform(self, df: DataFrame) -> DataFrame:
        """Project/cast to the store schema (missing nullable cols → NULL)."""
        cols = []
        for field in self.schema.fields:
            if field.name in df.columns:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            elif field.nullable:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            else:
                raise ValueError(f"missing non-nullable column {field.name!r}")
        return df.select(*cols)


def sync_state_store(spark: SparkSession, root: str | None = None) -> ParquetMergeStore:
    root = root or os.path.join(tempfile.gettempdir(), f"wcvec-state-{uuid.uuid4().hex[:8]}")
    return ParquetMergeStore(
        spark, root, SYNC_STATE_SCHEMA, STATE_KEYS, bucket_cols=["product_id"]
    )


def vector_index_store(spark: SparkSession, root: str | None = None) -> ParquetMergeStore:
    root = root or os.path.join(tempfile.gettempdir(), f"wcvec-index-{uuid.uuid4().hex[:8]}")
    return ParquetMergeStore(
        spark, root, VECTOR_INDEX_SCHEMA, INDEX_KEYS, bucket_cols=["product_id"]
    )
