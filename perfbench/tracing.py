"""Tracing for the traced run: spans around calls into each layer, and
Spark work read from the status store around each client op.

Spans are recorded from the benchmark's side by wrapping public
functions of the package (plus the engine step that forces the chunker
pass); nothing in the package changes. They are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass

ENGINE_VERBS = (
    "write_batch", "write", "get", "get_range", "exists", "list_objects",
    "delete", "delete_batch", "stats", "verify", "repair", "optimize",
)
STORE_CALLS = (
    "read_point", "read_pruned", "snapshot", "commit", "append",
    "stage_part", "attach_part", "compact", "compact_parts", "update_meta",
)


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<call>"
    start: float
    end: float
    parent: int | None
    op: int | None  # id of the client op (verb or query) the span served

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its child spans
    cover (children from pool threads may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {s.id: (s.end - s.start) - merged_length(kids.get(s.id, [])) for s in spans}


class SparkDeltas:
    """Jobs and stage metrics that ran between two reads of Spark's
    status store. Every job counts, whichever thread or job group started
    it (pooled commit jobs carry no group), so it is read by job-id
    cursor, not by group. The listener bus feeds the store
    asynchronously, so it is drained before each read; the store keeps
    about 1000 jobs, so it is read after every op."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.cursor = self._next_job_id()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _new_jobs(self) -> list:
        """Jobs with id >= cursor, newest first (jobsList is id-descending)."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobId() < self.cursor:
                break
            out.append(j)
        return out

    def _next_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() + 1 if jobs.length() else 0

    def skip(self) -> None:
        """Move the cursor past jobs nobody is measuring (the tracer's own)."""
        self.cursor = self._next_job_id()

    def read(self) -> dict:
        """Counters of all jobs since the cursor; advances the cursor."""
        self._drain()
        jobs = self._new_jobs()
        stage_ids: set[int] = set()
        groups = []
        for j in jobs:
            groups.append(j.jobGroup().getOrElse(None) if j.jobGroup().isDefined() else None)
            sids = j.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.length()))
        out = {"jobs": len(jobs), "scan_bytes": 0, "shuffle_bytes": 0,
               "exec_run_ms": 0, "groups": groups}
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            out["scan_bytes"] += st.inputBytes()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["exec_run_ms"] += st.executorRunTime()
        if jobs:
            self.cursor = jobs[0].jobId() + 1
        return out


class Tracer:
    """Span recorder plus per-op Spark counters.

    ``op(kind, name)`` brackets one client op; inside it, wrapped package
    calls record spans. The client issues ops from one thread; spans
    opened on pool threads take the op's root span as their parent.
    Time spent in the tracer's own bookkeeping is kept in ``overhead_s``.
    """

    #: store calls that publish parts; the bytes they publish are the
    #: index bytes written (``store.write_amp``)
    PUBLISHING = ("commit", "append", "attach_part", "compact", "compact_parts")

    def __init__(self, spark):
        self.spans: list[Span] = []
        self.ops: list[dict] = []  # {"id", "kind", "name", "ms", "spark": {...}}
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._deltas = SparkDeltas(spark)
        self._undo: list = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[tuple[int, str]]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def active(self) -> bool:
        return self._op is not None and not getattr(self._tls, "paused", 0)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def enclosing(self, *names: str) -> bool:
        """Whether a span with one of ``names`` is open on this thread."""
        return any(n in names for _, n in self._stack())

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active():
            yield None
            return
        op = self._op
        stack = self._stack()
        parent = stack[-1][0] if stack else op["id"]
        sid = next(self._ids)
        stack.append((sid, name))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op["id"]))

    @contextlib.contextmanager
    def paused(self):
        """Run tracer bookkeeping untraced and charge it to overhead."""
        t0 = time.perf_counter()
        self._tls.paused = getattr(self._tls, "paused", 0) + 1
        try:
            yield
        finally:
            self._tls.paused -= 1
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """One client op: its root span plus the Spark jobs it ran."""
        with self.paused():
            self._deltas.skip()
        rec = {"id": next(self._ids), "kind": kind, "name": name}
        self._op = rec
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._op = None
            self.spans.append(Span(rec["id"], f"op.{name}", start, end, None, rec["id"]))
            with self.paused():
                rec["spark"] = self._deltas.read()
            rec["ms"] = 1000 * (end - start)
            self.ops.append(rec)

    # -- wrapping -------------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self) -> None:
        """Wrap the engine verbs, the store calls and op-lock acquisition,
        the Bloom build and probe, and the engine step that forces the
        chunker pass."""
        from watsondedupe_spark import bloom
        from watsondedupe_spark.engine import DedupeEngine
        from watsondedupe_spark.store import ConcurrentWriteError, IndexStore

        tracer = self

        def spanned(orig, name, after=None):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with tracer.span(name) as sid:
                    res = orig(*args, **kwargs)
                if after is not None and sid is not None:
                    with tracer.paused():
                        after(args, res)
                return res

            return wrapper

        for verb in ENGINE_VERBS:
            self._patch(DedupeEngine, verb, spanned(getattr(DedupeEngine, verb), f"engine.{verb}"))
        self._patch(
            DedupeEngine, "_prepare_batch",
            spanned(DedupeEngine._prepare_batch, "chunking.prepare",
                    lambda args, res: tracer.count("chunking.bytes", res[3])),
        )

        def store_call(orig, call):
            @functools.wraps(orig)
            def wrapper(store, name, *args, **kwargs):
                before = None
                if tracer.active():
                    with tracer.paused():
                        tracer.count(f"store.{call}.calls")
                        if call == "update_meta" and name == "checkpoints":
                            tracer.count("engine.ledger_writes")
                        outermost = not tracer.enclosing(
                            *(f"store.{c}" for c in tracer.PUBLISHING))
                        if call in tracer.PUBLISHING and outermost:
                            before = set(store.live_parts(name))
                            if (call in ("append", "attach_part")
                                    and len(before) >= store.max_parts):
                                tracer.count("store.fold.calls")
                with tracer.span(f"store.{call}") as sid:
                    try:
                        res = orig(store, name, *args, **kwargs)
                    except ConcurrentWriteError:
                        if sid is not None:
                            tracer.count("engine.cas_retries")
                        raise
                if sid is not None:
                    with tracer.paused():
                        if before is not None:
                            new = [p for p in store.live_parts(name) if p not in before]
                            tracer.count("store.bytes_written", store.parts_bytes(new))
                        if call == "read_point":
                            tracer.count("store.read_point.parts_live",
                                         len(store.live_parts(name)))
                            tracer.count("store.read_point.parts_read",
                                         len({os.path.dirname(f) for f in res.inputFiles()}))
                return res

            return wrapper

        for call in STORE_CALLS:
            self._patch(IndexStore, call, store_call(getattr(IndexStore, call), call))

        orig_lock = IndexStore.op_lock

        @contextlib.contextmanager
        def op_lock(store, *args, **kwargs):
            with contextlib.ExitStack() as held:
                with tracer.span("store.op_lock_wait"):
                    held.enter_context(orig_lock(store, *args, **kwargs))
                yield

        self._patch(IndexStore, "op_lock", functools.wraps(orig_lock)(op_lock))
        self._patch(bloom, "build_arrow", spanned(bloom.build_arrow, "bloom.build"))
        self._patch(
            bloom, "might_contain_any",
            spanned(bloom.might_contain_any, "bloom.probe",
                    lambda args, hit: hit or tracer.count("bloom.parts_skipped")),
        )

    def dump(self, path: str) -> None:
        """Write the spans, one JSON object a line."""
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
