"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the benchmark hands the
engine only the generated tables and catalogs, never the seed itself.

``documents`` reproduces the shape of the sf0.1 ``documents`` table the
catalog queries run on: 5000 rows of words drawn uniformly from a
30-word vocabulary (10-99 words, capped at 576 characters), five
languages (en ~41%), 20 round-robin sources, and 5% planted near-dups
(an earlier text plus " dup").

``Catalog`` is the product corpus of the sync workloads: each product's
text joins 6-10 document texts. Its mutators return the generator's own
prediction of what a correct sync must upsert and delete, computed with
the engine's pure-python chunker.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wc_vector_indexing_spark.operators.chunker import chunk_text

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MAX_CHARS = 576
DUP_FRACTION = 0.05

# chunking of the sync workloads: 200 tokens, 20 overlap (x4 chars/token)
CHUNK_SIZE = 200
CHUNK_OVERLAP = 20


def _text(rng: np.random.Generator) -> str:
    words = rng.choice(len(VOCAB), size=int(rng.integers(10, 100)))
    return " ".join(VOCAB[w] for w in words)[:MAX_CHARS]


def documents(seed: int, n: int = 5000) -> list[str]:
    """Texts of the synthetic ``documents`` table, doc_id = list index."""
    rng = np.random.default_rng([seed, 1])
    texts = [_text(rng) for _ in range(n)]
    for i in sorted(rng.choice(np.arange(1, n), size=int(n * DUP_FRACTION), replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def write_documents(seed: int, sf_dir: str, n: int = 5000) -> list[str]:
    """Write ``documents.parquet`` (the sf0.1 schema) into ``sf_dir``."""
    rng = np.random.default_rng([seed, 2])
    texts = documents(seed, n)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return texts


def chunks_of(text: str) -> list[str]:
    return [c.text for c in chunk_text(text, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)]


@dataclass
class Expected:
    """What a correct sync of the mutated catalog must do."""

    upserted: int
    deleted: int
    unchanged_products: int


class Catalog:
    """The live product corpus of one run plus its seeded mutations."""

    def __init__(self, seed: int, n_products: int, docs: list[str]):
        self.rng = np.random.default_rng([seed, 3])
        self.docs = docs
        self.texts: dict[int, str] = {p: self._new_text() for p in range(n_products)}
        self.next_id = n_products
        # chunk texts as last synced, per product (the predicted index)
        self.synced: dict[int, list[str]] = {}

    def _new_text(self) -> str:
        picks = self.rng.choice(len(self.docs), size=int(self.rng.integers(6, 11)))
        return " ".join(self.docs[i] for i in picks)

    def rows(self) -> list[tuple[int, str]]:
        return sorted(self.texts.items())

    def expect_sync(self) -> Expected:
        """Predict a sync of the whole catalog, then record it as
        synced."""
        upserted = deleted = unchanged = 0
        for p in self.texts:
            new = chunks_of(self.texts[p])
            old = self.synced.get(p, [])
            upserted += sum(1 for i, c in enumerate(new) if i >= len(old) or old[i] != c)
            deleted += max(0, len(old) - len(new))
            unchanged += p in self.synced and new == old
            self.synced[p] = new
        return Expected(upserted, deleted, unchanged)

    def edit_tails(self, ids) -> None:
        """Change the last word of each product, so only its last chunk
        changes."""
        for p in ids:
            words = self.texts[p].split(" ")
            last = words[-1]
            words[-1] = VOCAB[(VOCAB.index(last) + 1) % len(VOCAB)] if last in VOCAB else VOCAB[0]
            self.texts[p] = " ".join(words)

    def edit(self, frac: float = 0.01) -> None:
        """~frac of the catalog changes: half tail edits, a third shrinks
        (the text loses its last ~900 characters, so chunks are
        deleted), the rest new products."""
        n = max(3, int(len(self.texts) * frac))
        n_tail, n_shrink = n // 2, n // 3
        ids = [int(p) for p in
               self.rng.choice(sorted(self.texts), size=n_tail + n_shrink, replace=False)]
        self.edit_tails(ids[:n_tail])
        for p in ids[n_tail:]:
            text = self.texts[p]
            cut = text.rfind(" ", 0, max(1, len(text) - 900))
            self.texts[p] = text[:cut] if cut > 0 else text[: len(text) // 2]
        for _ in range(n - n_tail - n_shrink):
            self.texts[self.next_id] = self._new_text()
            self.next_id += 1

    def delete(self, frac: float = 0.01) -> tuple[list[int], int]:
        """Drop ~frac of the products; returns their ids and the number
        of index rows a correct ``delete_products`` removes."""
        n = max(1, int(len(self.texts) * frac))
        ids = sorted(int(p) for p in self.rng.choice(sorted(self.texts), size=n, replace=False))
        n_rows = 0
        for p in ids:
            del self.texts[p]
            n_rows += len(self.synced.pop(p, []))
        return ids, n_rows
