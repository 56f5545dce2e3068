"""Measurement from outside the engine: op timers, spans, Spark counts.

Every timed op runs under its own Spark job group, so its jobs, stages
and tasks can be read back from the status tracker. The traced run adds
spans around the calls into each layer (the store instances and the
embedding backend are wrapped here; no engine code changes), keeps them
in memory, and attributes shuffle bytes to job groups from the event
log once the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

from wc_vector_indexing_spark.operators.embed import DeterministicEmbedder

STORE_WRITES = ("merge", "delete_keys", "update_keys", "delete_where")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One timed op of a workload loop."""

    op_id: str
    kind: str
    wall_s: float
    ok: bool
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self._stack: list[int] = []  # indexes of open spans
        self._op_id: str | None = None
        self._groups: list[str] = []  # job groups of the current op
        self.instrument_s = 0.0  # time spent in tracing bookkeeping

    # -- job groups and counts ---------------------------------------------

    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self._groups.append(group)

    def counts(self, groups) -> tuple[int, int, int]:
        """(jobs, submitted stages, tasks) of the given job groups."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    if s is not None and s.numTasks:
                        stages += 1
                        tasks += s.numTasks
        return jobs, stages, tasks

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one op of the loop. The body sets ``rec.ok = False`` for
        a failed correctness check; an exception marks it failed too and
        is swallowed, so the loop goes on and the failure is counted."""
        op_id = f"op{len(self.ops):04d}.{kind}"
        rec = Op(op_id, kind, 0.0, True)
        self._op_id, self._groups = op_id, []
        self._set_group(op_id)
        if self.traced:
            self._stack.append(self._open(kind))
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.ok = False
            rec.attrs["error"] = f"{type(e).__name__}: {e}"[:300]
        rec.wall_s = time.perf_counter() - t0
        if self.traced:
            self._close(self._stack.pop())
        self.sc.setJobGroup("bench.untimed", "bench.untimed")
        # counting runs after the timer stops: it is a py4j call per job
        # and per stage
        rec.jobs, rec.stages, rec.tasks = self.counts(self._groups)
        for g in self._groups[1:]:
            rec.attrs[f"{g[len(op_id) + 1:]}_jobs"] = self.counts([g])[0]
        rec.attrs["groups"] = list(self._groups)
        self.ops.append(rec)
        self._op_id = None

    @contextlib.contextmanager
    def phase(self, rec: Op, key: str):
        """Time a phase of an op into ``rec.attrs[key]`` (seconds), under
        a job group of its own; the op's end adds the phase's jobs as
        ``rec.attrs[key + '_jobs']``."""
        prev = self._groups[-1]
        self._set_group(f"{rec.op_id}.{key}")
        t0 = time.perf_counter()
        try:
            with self.span(f"{rec.kind}.{key}"):
                yield
        finally:
            rec.attrs[key] = time.perf_counter() - t0
            self.sc.setJobGroup(prev, prev)

    # -- spans -------------------------------------------------------------

    def _open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, parent, self._op_id or "-", attrs)
        )
        return len(self.spans) - 1

    def _close(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.traced:
            yield None
            return
        i = self._open(name, **attrs)
        self._stack.append(i)
        try:
            yield self.spans[i]
        finally:
            self._stack.pop()
            self._close(i)

    def dump(self, path: str) -> None:
        """Write the spans once, at the end of the run."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op_id": s.op_id, **s.attrs,
                }) + "\n")

    # -- store instrumentation ----------------------------------------------

    def instrument_store(self, store, label: str) -> None:
        """Wrap a store instance's public read/write methods in spans
        that record the snapshot files each write added (bytes written,
        buckets touched). Only the instance changes, not the class."""
        for name in ("read", *STORE_WRITES):
            method = getattr(store, name)
            setattr(store, name, self._store_call(store, label, name, method))

    def _store_call(self, store, label: str, name: str, method):
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            before = manifest_files(store.root) if name != "read" else None
            self.instrument_s += time.perf_counter() - t0
            with self.span(f"store.{name}", store=label) as sp:
                out = method(*args, **kwargs)
            if before is not None:
                t0 = time.perf_counter()
                after = manifest_files(store.root)
                new = {f: b for f, b in after.items() if f not in before}
                sp.attrs["bytes_written"] = sum(
                    os.path.getsize(os.path.join(store.root, f)) for f in new
                )
                sp.attrs["buckets_touched"] = len(
                    {b for b in new.values()} | {b for f, b in before.items() if f not in after}
                )
                self.instrument_s += time.perf_counter() - t0
            return out

        return call


def manifest_files(root: str) -> dict[str, int]:
    """file -> bucket of the live snapshot, read from the store's
    on-disk manifest (``_LATEST`` names the version)."""
    try:
        with open(os.path.join(root, "_LATEST")) as f:
            v = int(f.read().strip())
        with open(os.path.join(root, f"v{v:08d}", "_MANIFEST.json")) as f:
            buckets = json.load(f)["buckets"]
    except FileNotFoundError:
        return {}
    return {path: int(b) for b, files in buckets.items() for path in files}


def store_footprint(root: str) -> tuple[int, int, int]:
    """(live files, live bytes, live rows) of a store's current snapshot."""
    import pyarrow.parquet as pq

    files = manifest_files(root)
    paths = [os.path.join(root, f) for f in files]
    return (
        len(paths),
        sum(os.path.getsize(p) for p in paths),
        sum(pq.read_metadata(p).num_rows for p in paths),
    )


def peak_rss_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


def cached_relations(spark) -> int:
    """Entries in Spark's CacheManager (persisted, never released)."""
    return int(spark._jsparkSession.sharedState().cacheManager().cachedData().size())


class CountingEmbedder:
    """An ``EmbeddingBackend`` around ``DeterministicEmbedder`` that adds
    the texts it embeds and its busy time to driver accumulators. Runs
    inside the python workers; only the traced run uses it."""

    def __init__(self, sc, model: str):
        self.inner = DeterministicEmbedder(model)
        self.model = self.inner.model
        self.dimension = self.inner.dimension
        self.texts = sc.accumulator(0)
        self.busy = sc.accumulator(0.0)

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        t0 = time.perf_counter()
        out = self.inner.embed_batch(texts)
        self.busy.add(time.perf_counter() - t0)
        self.texts.add(len(texts))
        return out

    def reading(self) -> tuple[int, float]:
        return self.texts.value, self.busy.value


def shuffle_bytes_by_group(event_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, from the event log of a
    stopped session (the log is complete only after ``stop()``)."""
    stage_group: dict[int, str] = {}
    by_stage: dict[int, int] = {}
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    w = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    sid = ev["Stage ID"]
                    by_stage[sid] = by_stage.get(sid, 0) + int(w.get("Shuffle Bytes Written", 0))
    out: dict[str, int] = {}
    for sid, n in by_stage.items():
        g = stage_group.get(sid)
        if g is not None:
            out[g] = out.get(g, 0) + n
    return out
