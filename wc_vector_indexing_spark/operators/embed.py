"""Batched embedding operator (SURVEY §2.5, E1-E3).

The reference batches ≤100 texts per POST to /v1/embeddings, preserves
input order, and hard-fails on any vector whose length differs from the
configured dimension (class-embeddings.php:68-149).

Spark-first restatement: embedding is a *vector-valued map* over a text
column, executed with ``mapInPandas`` so each partition processes its rows
in Arrow batches — the batch boundary is where a real backend would make
its API call. The backend is pluggable:

  * DeterministicEmbedder — seeded hash→vector (sha256(text) seeds a
    PCG64 normal draw, L2-normalized). Network-free, bit-stable across
    runs/partitions; the engine's answer to the reference's mocked-HTTP
    test strategy (dev-plan :871-875).
  * A real API-backed embedder would implement the same ``embed_batch``
    contract (list[str] -> list[list[float]]) with retry/backoff inside
    the partition fn (class-pinecone-adapter.php:348-381 policy).

Scale posture: rows are embedded where they live — no collect, no
driver round-trip; throughput scales with executors. Batch size tunes the
Arrow transfer and the (real) API payload, not correctness.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator
from typing import Protocol

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from wc_vector_indexing_spark.config import DEFAULT_EMBED_BATCH, MODEL_DIMENSIONS
from wc_vector_indexing_spark.functions.partitioning import fan_out


class EmbeddingBackend(Protocol):
    model: str
    dimension: int

    def embed_batch(self, texts: list[str]) -> list[list[float]]: ...


class DimensionMismatchError(ValueError):
    """Any returned vector length != configured dimension is a hard error
    (class-embeddings.php:131-141)."""


class DeterministicEmbedder:
    """Seeded hash→vector fake: sha256(text) → PCG64 seed → standard
    normal draw → L2 normalize → float32. Same text ⇒ same vector,
    everywhere, forever."""

    def __init__(self, model: str = "fake-deterministic-64", dimension: int | None = None):
        self.model = model
        self.dimension = dimension or MODEL_DIMENSIONS.get(model, 64)

    def _one(self, text: str) -> np.ndarray:
        seed = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")
        rng = np.random.Generator(np.random.PCG64(seed))
        v = rng.standard_normal(self.dimension)
        n = float(np.linalg.norm(v))
        if n > 0:
            v = v / n
        return v.astype(np.float32)

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        return [self._one(t or "").tolist() for t in texts]


def _validated(backend: EmbeddingBackend, texts: list[str]) -> list[list[float]]:
    vecs = backend.embed_batch(texts)
    if len(vecs) != len(texts):
        raise DimensionMismatchError(
            f"backend returned {len(vecs)} vectors for {len(texts)} inputs"
        )
    for v in vecs:
        if len(v) != backend.dimension:
            raise DimensionMismatchError(
                f"vector length {len(v)} != configured dimension {backend.dimension}"
            )
    return vecs


def embed_texts(
    df: DataFrame,
    text_col: str = "chunk_text",
    out_col: str = "embedding",
    backend: EmbeddingBackend | None = None,
    batch_size: int = DEFAULT_EMBED_BATCH,
    on_error: str = "raise",
) -> DataFrame:
    """Append ``out_col: array<float>`` by embedding ``text_col`` in
    batches of ``batch_size`` per partition (E1). Under-partitioned
    input is fanned out first — embedding is the expensive stage and
    must use every executor.

    ``on_error``:
      'raise'  fail the job on any backend/dimension error (E1 default)
      'mark'   per-batch failure isolation (W8, class-indexer.php:437-443):
               a failing batch yields NULL vectors + ``embed_error`` for
               just its rows; other batches continue. Callers route
               marked rows to status='error' in the ledger (W3) — the
               next scan re-queues them at priority 1 (T8 dead-letter).
    """
    if on_error not in ("raise", "mark"):
        raise ValueError("on_error must be 'raise' or 'mark'")
    backend = backend or DeterministicEmbedder()
    df = fan_out(df)
    fields = list(df.schema.fields) + [
        T.StructField(out_col, T.ArrayType(T.FloatType()), True)
    ]
    if on_error == "mark":
        fields.append(T.StructField("embed_error", T.StringType(), True))
    out_schema = T.StructType(fields)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            vectors: list[list[float] | None] = []
            errors: list[str | None] = []
            for i in range(0, len(texts), batch_size):
                chunk = texts[i : i + batch_size]
                if on_error == "raise":
                    vectors.extend(_validated(backend, chunk))
                else:
                    try:
                        vectors.extend(_validated(backend, chunk))
                        errors.extend([None] * len(chunk))
                    except Exception as e:  # noqa: BLE001 — batch isolation
                        vectors.extend([None] * len(chunk))
                        errors.extend([f"{type(e).__name__}: {e}"[:200]] * len(chunk))
            out = pdf.copy()
            out[out_col] = vectors
            if on_error == "mark":
                out["embed_error"] = errors
            yield out

    return df.mapInPandas(run, schema=out_schema)
