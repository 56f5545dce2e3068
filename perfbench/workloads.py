"""The two benchmark workloads, each a closed loop with one client.

A workload function sets up its state, runs its op sequence in rounds
until the run's seconds are spent (always at least one whole round), and
checks every answer. It returns a ``Result``; run.py turns the recorded
ops and spans into metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.trace import CountingEmbedder, Tracer, cached_relations, peak_rss_mb
from wc_vector_indexing_spark.config import ChunkingConfig, EngineConfig
from wc_vector_indexing_spark.operators.delta_sync import delete_products, sync_products
from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder
from wc_vector_indexing_spark.operators.indexer import build_chunks
from wc_vector_indexing_spark.operators.similarity import knn_exact, knn_similarity_join
from wc_vector_indexing_spark.state.store import sync_state_store, vector_index_store

MODEL = "fake-deterministic-256"
N_PRODUCTS = 100  # ~350 chunks at 200/20 chunking
EDIT_FRAC = 0.05  # products changed before the edit re-sync
DELETE_FRAC = 0.02  # products dropped by the delete
SETUP_REPEATS = 3  # set-up units of each workload
KNN_READS = 2  # single-vector queries after each of the round's four writes
BATCH_QUERIES = 64
K = 10
N_DOCUMENTS = 1000  # rows of the curation workload's documents table
MIN_PASSES = 4  # curation passes per run: a cold one and three warm ones
VECTOR_SAMPLE = 8  # stored vectors checked against the embedder per check

# one curate() composition and one dedup entry, the cheapest of their
# families at this size: passes over all nine would not fit a run
CURATION_ENTRIES = (
    "curation_pipeline",
    "dedup_minhash_lsh",
)


@dataclass
class Result:
    setup_units: list[float]  # durations of the repeated set-up units
    rounds: list[float] = field(default_factory=list)  # op time per round
    checks: int = 0
    check_failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Env:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str  # scratch dir of this run, inside the checkout
    jvm_pid: int

    @property
    def config(self) -> EngineConfig:
        return EngineConfig(
            model=MODEL,
            chunking=ChunkingConfig(size=datagen.CHUNK_SIZE, overlap=datagen.CHUNK_OVERLAP),
        )

    def backend(self):
        if self.tracer.traced:
            return CountingEmbedder(self.spark.sparkContext, MODEL)
        return DeterministicEmbedder(MODEL)

    def stores(self, name: str = "main"):
        state = sync_state_store(self.spark, os.path.join(self.work, name, "state"))
        index = vector_index_store(self.spark, os.path.join(self.work, name, "index"))
        if self.tracer.traced:
            self.tracer.instrument_store(state, "state")
            self.tracer.instrument_store(index, "index")
        return state, index

    def mark_peak_rss(self, res: "Result") -> None:
        """Record peak RSS of the driver python and the JVM as the timed
        loop ends, before the checks that follow it allocate."""
        res.extra["peak_rss_mb"] = {"python": peak_rss_mb("self"), "jvm": peak_rss_mb(self.jvm_pid)}

    def frame(self, rows):
        return self.spark.createDataFrame(rows, "product_id long, text string")


def _fail(res: Result, rec, msg: str) -> None:
    res.check_failures.append(f"{rec.op_id if rec else '-'}: {msg}")
    if rec is not None:
        rec.ok = False


def _embed_reading(backend) -> tuple[int, float]:
    return backend.reading() if isinstance(backend, CountingEmbedder) else (0, 0.0)


def timed_sync(env: Env, res: Result, kind: str, rows, expected: datagen.Expected,
               state, index, backend, cached: list[int]):
    """One ``sync_products`` op over ``rows``, checked against the
    generator's prediction; records embed work and cache growth."""
    df = env.frame(rows)
    before = _embed_reading(backend)
    with env.tracer.op(kind) as rec:
        s = sync_products(df, state, index, env.config, backend, text_col="text")["local"]
    cached.append(cached_relations(env.spark))
    if rec.ok:
        after = _embed_reading(backend)
        rec.attrs.update(embed_texts=after[0] - before[0], embed_busy_s=after[1] - before[1],
                         upserted=s.upserted, deleted=s.deleted, skipped=s.skipped_products,
                         unchanged=expected.unchanged_products)
        check_counts(res, rec, s, expected)
    return rec


# -- correctness -------------------------------------------------------------


def check_index(env: Env, res: Result, rec, catalog: datagen.Catalog, state, index) -> None:
    """Index and state hold exactly the keys and chunk_sha values of a
    from-scratch ``build_chunks`` of the catalog, and a seeded sample of
    stored vectors equals the embedder's output."""
    res.checks += 1
    keys = ["product_id", "chunk_index", "chunk_sha"]
    # one job reads the three sides, tagged by their source
    ref = build_chunks(env.frame(catalog.rows()), env.config, text_col="text")
    live = [store.read().filter(F.col("target") == "local") for store in (index, state)]
    both = ref.select(F.lit("ref").alias("src"), *keys).unionByName(
        live[0].select(F.lit("index").alias("src"), *keys, "vector_id", "chunk_text", "values"),
        allowMissingColumns=True,
    ).unionByName(live[1].select(F.lit("state").alias("src"), *keys), allowMissingColumns=True)
    got: dict[str, set] = {"ref": set(), "index": set(), "state": set()}
    rows = []
    for r in both.collect():
        got[r.src].add(tuple(r[k] for k in keys))
        if r.src == "index":
            rows.append(r)
    ref = got["ref"]
    for label in ("index", "state"):
        if got[label] != ref:
            _fail(res, rec, f"{label} keys differ from build_chunks: "
                  f"{len(got[label] - ref)} extra, {len(ref - got[label])} missing")
    rows.sort(key=lambda r: (r.product_id, r.chunk_index))
    pick = np.random.default_rng([env.seed, res.checks]).choice(
        len(rows), size=min(VECTOR_SAMPLE, len(rows)), replace=False)
    emb = DeterministicEmbedder(MODEL)
    bad = [rows[j].vector_id for j in pick
           if rows[j].vector_id != f"site-1:product-{rows[j].product_id}:chunk-{rows[j].chunk_index}"
           or not np.array_equal(np.asarray(rows[j]["values"], np.float32),
                                 np.asarray(emb.embed_batch([rows[j].chunk_text])[0], np.float32))]
    if len(rows) < VECTOR_SAMPLE or bad:
        _fail(res, rec, f"vector sample: {len(rows)} rows, {len(bad)} of {len(pick)} differ")


def check_counts(res: Result, rec, summary, expected: datagen.Expected) -> None:
    res.checks += 1
    if (summary.upserted, summary.deleted) != (expected.upserted, expected.deleted):
        _fail(res, rec, f"sync upserted/deleted {summary.upserted}/{summary.deleted}, "
              f"generator predicted {expected.upserted}/{expected.deleted}")


def brute_force(vectors: dict[str, np.ndarray], q: np.ndarray, k: int) -> list[str]:
    ids = sorted(vectors)
    V = np.stack([vectors[i] for i in ids]).astype(np.float64)
    norms = np.linalg.norm(V, axis=1) * np.linalg.norm(q)
    scores = np.where(norms == 0, 0.0, V @ q / np.where(norms == 0, 1.0, norms))
    order = sorted(range(len(ids)), key=lambda j: (-scores[j], ids[j]))[:k]
    return [ids[j] for j in order]


def check_knn(res: Result, rec, snapshot, q: np.ndarray, got: list[str]) -> None:
    """``got`` equals the NumPy brute-force top-k over the same snapshot."""
    res.checks += 1
    vectors = {r.vector_id: np.asarray(r["values"], np.float64)
               for r in snapshot.select("vector_id", "values").collect()}
    want = brute_force(vectors, q, K)
    if got != want:
        _fail(res, rec, f"kNN answer differs from brute force: {got[:3]} vs {want[:3]}")


# -- sync_churn --------------------------------------------------------------


def knn_op(env: Env, res: Result, index, q: np.ndarray, check: bool):
    """One single-vector ``knn_exact`` top-k over the live index."""
    tr = env.tracer
    with tr.op("knn") as rec:
        with tr.phase(rec, "read"):
            snap = index.read()
        with tr.phase(rec, "exec"):
            got = [r.vector_id for r in
                   knn_exact(snap, q.tolist(), k=K, vec_col="values",
                             id_col="vector_id").collect()]
    if check and rec.ok:
        check_knn(res, rec, snap, q.astype(np.float64), got)
    return rec


def batch_op(env: Env, res: Result, index, rng: np.random.Generator):
    """One ``knn_similarity_join`` of BATCH_QUERIES vectors; one seeded
    query's answer is checked."""
    tr = env.tracer
    Q = rng.standard_normal((BATCH_QUERIES, env.config.dimension)).astype(np.float32)
    qi = int(rng.integers(0, BATCH_QUERIES))
    qdf = env.spark.createDataFrame(
        [(i, Q[i].tolist()) for i in range(BATCH_QUERIES)], "qid long, qv array<float>")
    with tr.op("knn_batch") as rec:
        with tr.phase(rec, "read"):
            snap = index.read()
        with tr.phase(rec, "construct"):
            plan = knn_similarity_join(qdf, snap, k=K, q_vec="qv", q_id="qid",
                                       i_vec="values", i_id="vector_id")
        with tr.phase(rec, "exec"):
            rows = plan.collect()
    if rec.ok:
        answers: dict[int, list[tuple[int, str]]] = {}
        for r in rows:
            answers.setdefault(r.query_id, []).append((r["rank"], r.neighbor_id))
        check_knn(res, rec, snap, Q[qi].astype(np.float64),
                  [n for _, n in sorted(answers.get(qi, []))])
    return rec


def sync_churn(env: Env) -> Result:
    """Rounds of the catalog's life, with kNN reads beside the writes: a
    cold build into empty stores, a re-sync after ~5% edits (tail
    edits, shrinks, new products), a no-change re-sync (which re-syncs
    the products just edited) and a 2% delete, with kNN queries after
    each write and a batch after the build. The queries are spread over
    the round so that a burst of load on the host hits few of them."""
    # set-up: generate the seeded catalog and its input frame,
    # SETUP_REPEATS times; the session's JVM start-up is added to it
    units = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        docs = datagen.documents(env.seed)
        catalog = datagen.Catalog(env.seed, N_PRODUCTS, docs)
        env.frame(catalog.rows())
        units.append(time.perf_counter() - t0)
    res = Result(units)
    backend = env.backend()
    tr = env.tracer
    cached = []
    t_start = time.perf_counter()
    while True:
        if res.rounds:
            catalog = datagen.Catalog(env.seed + len(res.rounds), N_PRODUCTS, docs)
        state, index = env.stores(f"round{len(res.rounds)}")
        rng = np.random.default_rng([env.seed, 4, len(res.rounds)])
        n_ops = len(tr.ops)

        def resync(kind: str):
            rec = timed_sync(env, res, kind, catalog.rows(), catalog.expect_sync(),
                             state, index, backend, cached)
            if rec.ok:
                check_index(env, res, rec, catalog, state, index)

        def reads(n: int):
            for j in range(n):
                knn_op(env, res, index, rng.standard_normal(env.config.dimension)
                       .astype(np.float32), check=j == 0)

        resync("build")
        reads(KNN_READS)
        batch_op(env, res, index, rng)
        catalog.edit(EDIT_FRAC)
        resync("resync_edit")
        reads(KNN_READS)
        resync("resync_noop")
        reads(KNN_READS)
        ids, n_rows = catalog.delete(DELETE_FRAC)
        with tr.op("delete") as rec:
            n = delete_products(ids, state, index)
        cached.append(cached_relations(env.spark))
        if rec.ok:
            rec.attrs.update(deleted=n)
            res.checks += 1
            if n != n_rows:
                _fail(res, rec, f"delete_products removed {n} rows, generator predicted {n_rows}")
            check_index(env, res, rec, catalog, state, index)
        reads(KNN_READS)
        res.rounds.append(sum(op.wall_s for op in tr.ops[n_ops:]))
        if time.perf_counter() - t_start >= env.seconds:
            break
    env.mark_peak_rss(res)
    res.extra.update(stores={"state": state.root, "index": index.root},
                     index_versions=len(index.versions()), cached_after_op=cached)
    return res


# -- curation_pipelines -------------------------------------------------------


def curation_pipelines(env: Env) -> Result:
    """Passes over two curation/dedup catalog entries on a seeded
    documents table, each forced into the noop sink."""
    import duckdb

    from tools.parity_check import check_query
    from wc_vector_indexing_spark.plans.queries import REGISTRY
    from wc_vector_indexing_spark.sources.readers import load

    # set-up: write the seeded documents table and scan it; the first
    # copy is the one the entries read
    units = []
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        datagen.write_documents(env.seed, os.path.join(env.work, f"docs{r}"), N_DOCUMENTS)
        load(env.spark, "documents", os.path.join(env.work, f"docs{r}")).count()
        units.append(time.perf_counter() - t0)
    sf = os.path.join(env.work, "docs0")
    res = Result(units)
    tr = env.tracer
    t_start = time.perf_counter()
    while True:
        t_round = 0.0
        for name in CURATION_ENTRIES:
            with tr.op(name) as rec:
                with tr.phase(rec, "construct"):
                    df = REGISTRY[name].fn(env.spark, sf)
                with tr.phase(rec, "execute"):
                    df.write.format("noop").mode("overwrite").save()
            t_round += rec.wall_s
        res.rounds.append(t_round)
        if len(res.rounds) >= MIN_PASSES and time.perf_counter() - t_start >= env.seconds:
            break
    env.mark_peak_rss(res)
    # correctness: the typed, order-insensitive result of one entry per
    # run (rotating with the seed) against its DuckDB oracle, as
    # tools/parity_check.py compares them
    name = CURATION_ENTRIES[env.seed % len(CURATION_ENTRIES)]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
        err, _ = check_query(env.spark, con, REGISTRY[name], sf)
    finally:
        con.close()
    res.checks += 1
    res.extra["oracle_checked"] = name
    if err is not None:
        for rec in tr.ops:
            if rec.kind == name:
                _fail(res, rec, f"{name} differs from its DuckDB oracle: {err[:200]}")
    return res


WORKLOADS = {
    "curation_pipelines": curation_pipelines,
    "sync_churn": sync_churn,
}
