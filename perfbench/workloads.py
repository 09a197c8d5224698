"""The closed-loop workloads, one client thread each.

Each workload has an untimed ``setup()`` and a ``run(seconds, tracer)``
phase that times every client op, checks every output, and returns a
:class:`Result`. ``run`` may be called more than once; each call starts
from the same state.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from gen import digest, lifecycle_generations, point_ops, query_tables
from procs import cpu_seconds

#: three of the exact-kNN recall family (they share the brute-force
#: top-k), duplicate-span detection, and a dedupe-index derivation
QUERY_MIX = (
    "emb_ann_recall_audit",
    "emb_ann_recall_ivfpq",
    "emb_sq8_recall",
    "docs_dup_spans",
    "ddp_coverage",
)


@dataclass
class OpTime:
    name: str
    ms: float  # wall time
    cpu_ms: float  # CPU time of all the run's processes during the op
    ok: bool


@dataclass
class Result:
    """Timed ops of one ``run``."""

    ops: list[OpTime] = field(default_factory=list)
    passes: list[OpTime] = field(default_factory=list)  # per pass, its ops summed
    extra: dict[str, float] = field(default_factory=dict)  # workload-specific figures
    errors: list[str] = field(default_factory=list)

    def record(self, op: OpTime, why: str = "") -> None:
        self.ops.append(op)
        if not op.ok:
            self.errors.append(f"{op.name}: {why or 'wrong output'}")

    def check(self, name: str, ok: bool) -> None:
        """An untimed output check; a failure fails the run."""
        if not ok:
            self.errors.append(f"check {name} failed")

    def times(self, *names: str) -> list[float]:
        """Wall milliseconds of the ops named (all ops if none)."""
        return [o.ms for o in self.ops if not names or o.name in names]

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def timed_op(res: Result, tracer, kind: str, name: str, fn, check):
    """Run one client op, timed; ``check(output)`` decides whether it
    counts as failed. Exceptions count as failures too."""
    ctx = tracer.op(kind, name) if tracer is not None else contextlib.nullcontext()
    ms = cpu_ms = 0.0
    try:
        with ctx:
            cpu0, t0 = cpu_seconds(), time.perf_counter()
            try:
                out = fn()
            finally:
                ms, cpu_ms = 1000 * (time.perf_counter() - t0), 1000 * (cpu_seconds() - cpu0)
    except Exception as e:  # noqa: BLE001 — a failing op is counted, not fatal
        res.record(OpTime(name, ms, cpu_ms, False), repr(e)[:200])
        return None
    try:
        ok = bool(check(out))
    except Exception as e:  # noqa: BLE001
        res.record(OpTime(name, ms, cpu_ms, False), f"check raised {e!r}"[:200])
        return out
    res.record(OpTime(name, ms, cpu_ms, ok))
    return out


def run_passes(res: Result, seconds: float, one_pass) -> Result:
    """Whole passes while another is expected to fit in ``seconds``; at
    least one, never cut short."""
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        first = len(res.ops)
        one_pass(res)
        ops = res.ops[first:]
        res.passes.append(OpTime("pass", sum(o.ms for o in ops),
                                 sum(o.cpu_ms for o in ops), all(o.ok for o in ops)))
        now = time.perf_counter()
        if now + (now - t0) > start + seconds:
            return res


def copy_index(src: str, dst: str) -> str:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    return dst


# -- output checks --------------------------------------------------------------


def check_get(out: bytes, expected: bytes) -> bool:
    return out == expected


def check_list(out, expected_keys: list[str]) -> bool:
    return [r.object_key for r in out.objects] == expected_keys


def check_stats(out, objects: int, logical_bytes: int) -> bool:
    return out.object_count == objects and out.logical_bytes == logical_bytes


def check_repair(out: dict) -> bool:
    return all(v == 0 for v in out.values())


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: the sorted multiset of rows
    canonicalised as the correctness harness does (columns in name order,
    exact float repr), then hashed."""
    from tools.check import rows_to_multiset

    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for row in rows_to_multiset(columns, rows):
        h.update("\x1f".join(row).encode() + b"\n")
    return h.hexdigest()


# -- workloads ------------------------------------------------------------------


class BackupLifecycle:
    """Nightly backups of one object set, one pass per run:

    1. G generations ingested by ``write_batch``, ``stats`` after each;
    2. a block of single-object verbs against the full index
       (:func:`gen.point_ops`);
    3. the oldest generation expired by ``delete_batch``;
    4. ``verify`` x REPEATS on that index, then ``repair`` and ``optimize``
       x REPEATS, each repeat on a fresh copy of the index as it stood
       before the first.
    """

    GENERATIONS = 3
    GEN_BYTES = 8 << 20
    REPEATS = 2
    POINT_BLOCKS = 1

    def __init__(self, spark, work: str, seed: int):
        from watsondedupe_spark.chunking import ChunkSettings

        self.spark = spark
        self.work = work
        self.seed = seed
        # boundary_check_bytes=1 puts a content-defined boundary every
        # ~17 KB on random bytes, inside max_chunk_size, so an edit only
        # disturbs the chunks around it
        self.settings = ChunkSettings(1024, 32768, 64, 1)

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.gens = lifecycle_generations(
            self.seed, self.GENERATIONS, self.GEN_BYTES, min_size=256, max_size=4 << 20)
        stored = {g.key(n): v for g in self.gens for n, v in g.objects.items()}
        self.ops = point_ops(self.seed, stored, self.POINT_BLOCKS)
        self.paths = []
        for g in self.gens:
            names = sorted(g.objects)
            path = os.path.join(self.work, f"gen{g.index}.parquet")
            pq.write_table(pa.table({
                "object_key": [g.key(n) for n in names],
                "data": pa.array([g.objects[n] for n in names], pa.binary()),
            }), path)
            self.paths.append(path)
        self._warm_up()

    def _warm_up(self) -> None:
        """Start the Python workers and compile the ingest and point-read
        paths once, on a throwaway index."""
        from watsondedupe_spark.engine import DedupeEngine

        eng = DedupeEngine.create(self.spark, os.path.join(self.work, "warm"), self.settings)
        eng.write_batch(self.spark.read.parquet(self.paths[0]).limit(4))
        key = self.gens[0].key(sorted(self.gens[0].objects)[0])
        eng.get(key)
        eng.exists(key)
        eng.list_objects(prefix="g")

    def run(self, seconds: float, tracer=None) -> Result:
        return run_passes(Result(), seconds, lambda res: self._pass(res, tracer))

    @staticmethod
    def figures(res: Result) -> list[tuple]:
        """This workload's own figures: (name, value, unit, samples, note)."""
        rows = [("ingest_mbps", res.extra["ingest_mbps"], "MB/s", len(res.times("write_batch")), ""),
                ("expire_s", res.extra["expire_s"], "s", len(res.times("delete_batch")), "")]
        for verb in ("verify", "repair", "optimize"):
            rows.append((f"{verb}_s", res.extra[f"{verb}_s"], "s", len(res.times(verb)), ""))
        rows.append(("space_amp", res.extra["space_amp"], "ratio", 1, ""))
        for verb in ("get", "get_range", "exists", "list_objects", "write", "delete"):
            t = res.times(verb)
            short = "list" if verb == "list_objects" else verb
            rows.append((f"{short}_p50_ms", statistics.median(t), "ms", len(t), ""))
        reads = res.times("get", "get_range", "exists", "list_objects")
        rows.append(("read_p90_ms", percentile(reads, 90), "ms", len(reads),
                     "" if len(reads) >= 100 else "under 10 samples above p90"))
        return rows

    def _pass(self, res: Result, tracer) -> None:
        from pyspark.sql import functions as F

        from watsondedupe_spark.engine import DedupeEngine

        root = os.path.join(self.work, "index")
        for d in os.listdir(self.work):
            if d.startswith("index"):
                shutil.rmtree(os.path.join(self.work, d))
        eng = DedupeEngine.create(self.spark, root, self.settings)

        live: dict[str, bytes] = {}
        ids: dict[str, int] = {}  # ingest-sequence ids, dense from 1 here
        prev_chunks = new_chunks = chunk_rows = 0
        for g, path in zip(self.gens, self.paths):
            n = len(g.objects)
            timed_op(res, tracer, "engine", "write_batch",
                     lambda: eng.write_batch(self.spark.read.parquet(path)),
                     lambda out: out == n)
            for name in sorted(g.objects):
                live[g.key(name)] = g.objects[name]
                ids[g.key(name)] = len(ids) + 1
            st = timed_op(res, tracer, "engine", "stats", eng.stats,
                          lambda out: check_stats(out, len(live), sum(map(len, live.values()))))
            if tracer is not None and st is not None:
                with tracer.paused():
                    rows = (eng.objects.filter(F.col("object_key").startswith(g.key("")))
                            .agg(F.sum("chunk_count")).collect()[0][0])
                new_chunks += st.chunk_count - prev_chunks
                chunk_rows += rows or 0
                prev_chunks = st.chunk_count
        ingest_ms = sum(res.times("write_batch")[-len(self.gens):])
        res.extra["ingest_mbps"] = sum(g.logical_bytes for g in self.gens) / 1e3 / ingest_ms
        if chunk_rows:
            res.extra["chunks_out"] = chunk_rows / len(self.gens)
            res.extra["dedup_hit_frac"] = 1 - new_chunks / chunk_rows

        self._point_verbs(res, tracer, eng, live, ids)

        old = self.gens[0]
        expired = self.spark.createDataFrame(
            [(old.key(n),) for n in sorted(old.objects)], "object_key string")
        timed_op(res, tracer, "engine", "delete_batch",
                 lambda: eng.delete_batch(expired), lambda out: True)
        res.extra["expire_s"] = res.ops[-1].ms / 1000
        for name in old.objects:
            del live[old.key(name)]
        res.check("expired keys gone", not eng.list_objects(prefix=old.key("")).objects)

        for _ in range(self.REPEATS):
            timed_op(res, tracer, "engine", "verify",
                     lambda: eng.verify().collect(), lambda out: out == [])
        self._repeat(res, tracer, eng, root, "repair", lambda e: e.repair(), check_repair)
        self._repeat(res, tracer, eng, root, "optimize", lambda e: e.optimize(),
                     lambda out: True)
        for name in ("verify", "repair", "optimize"):
            res.extra[f"{name}_s"] = statistics.median(res.times(name)[-self.REPEATS:]) / 1000

        st = eng.stats()
        res.check("stats after optimize",
                  check_stats(st, len(live), sum(map(len, live.values()))))
        res.extra["space_amp"] = sum(
            eng.store.parts_bytes(eng.store.live_parts(t))
            for t in ("objects", "object_map", "chunks", "chunk_store")
        ) / st.logical_bytes
        self._read_back(res, eng, live)

    def _point_verbs(self, res, tracer, eng, live: dict, ids: dict) -> None:
        """The seeded single-object ops, each checked against the model
        ``live`` (key -> bytes) and ``ids`` (key -> ingest-sequence id:
        assigned in key order within a batch, continuing the index's
        high-water mark, which deletes do not lower)."""
        high_water = max(ids.values())
        for op in self.ops:
            if op.verb == "get":
                timed_op(res, tracer, "engine", "get", lambda: eng.get(op.key),
                         lambda out: check_get(out, live[op.key]))
            elif op.verb == "get_range":
                timed_op(res, tracer, "engine", "get_range",
                         lambda: eng.get_range(op.key, op.offset, op.length),
                         lambda out: check_get(
                             out, live[op.key][op.offset:op.offset + op.length]))
            elif op.verb == "exists":
                timed_op(res, tracer, "engine", "exists", lambda: eng.exists(op.key),
                         lambda out: out == (op.key in live))
            elif op.verb == "list_objects":
                expected = [k for k, i in sorted(ids.items(), key=lambda kv: kv[1])
                            if i > op.index_start and k.startswith(op.prefix)][:100]
                timed_op(res, tracer, "engine", "list_objects",
                         lambda: eng.list_objects(prefix=op.prefix or None,
                                                  index_start=op.index_start),
                         lambda out: check_list(out, expected))
            elif op.verb == "write":
                timed_op(res, tracer, "engine", "write", lambda: eng.write(op.key, op.data),
                         lambda out: out is None)
                live[op.key] = op.data
                high_water += 1
                ids[op.key] = high_water
            else:
                timed_op(res, tracer, "engine", "delete", lambda: eng.delete(op.key),
                         lambda out: True)
                del live[op.key]
                del ids[op.key]

    def _repeat(self, res, tracer, eng, root, verb, fn, check) -> None:
        """``verb`` REPEATS times: first on ``eng``, which the pass carries
        on with, then on fresh copies of the index as it stood before."""
        from watsondedupe_spark.engine import DedupeEngine

        before = copy_index(root, root + f".pre-{verb}")
        timed_op(res, tracer, "engine", verb, lambda: fn(eng), check)
        for i in range(1, self.REPEATS):
            other = DedupeEngine.open(self.spark, copy_index(before, root + f".{verb}{i}"))
            timed_op(res, tracer, "engine", verb, lambda: fn(other), check)

    def _read_back(self, res: Result, eng, live: dict) -> None:
        """Surviving generations read back intact: a seeded sample of each,
        its largest object included."""
        import random

        rng = random.Random(self.seed)
        want = {}
        for g in self.gens[1:]:
            keys = sorted(g.key(n) for n in g.objects)
            sample = set(rng.sample(keys, min(6, len(keys))))
            sample.add(max(keys, key=lambda k: len(live[k])))
            want.update({k: digest(live[k]) for k in sample})
        got = {r.object_key: digest(bytes(r.data))
               for r in eng.get_batch(sorted(want)).collect()}
        res.check("surviving generations read back", got == want)


class QueryMix:
    """A fixed, ordered list of registered queries on generated
    ``documents``/``embeddings`` tables in the shape of the sf0.1 tables;
    every result's value hash must equal its DuckDB oracle's.

    The first pass runs in a fresh session, as a batch job would: substrate
    builds the queries share (and JIT warm-up) are paid inside it, so work
    moved into or out of a shared cache shows in ``pass_cpu_s``. Later passes
    run only where the host is fast enough to fit them in ``seconds``."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def setup(self) -> None:
        import duckdb
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.sf_dir = os.path.join(self.work, "tables")
        os.makedirs(self.sf_dir, exist_ok=True)
        docs, emb = query_tables(self.seed)
        pq.write_table(docs, os.path.join(self.sf_dir, "documents.parquet"))
        pq.write_table(emb, os.path.join(self.sf_dir, "embeddings.parquet"))
        self.queries = entry.queries()
        oracle = entry.oracle_sql()
        self.expected = {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t + '.parquet')}'")
            for name in QUERY_MIX:
                cur = con.execute(oracle[name])
                self.expected[name] = value_hash([d[0] for d in cur.description],
                                                 cur.fetchall())
        finally:
            con.close()

    def run(self, seconds: float, tracer=None) -> Result:
        return run_passes(Result(), seconds, lambda res: self._pass(res, tracer))

    @staticmethod
    def figures(res: Result) -> list[tuple]:
        """This workload's own figures: (name, value, unit, samples, note)."""
        rows = [("queries_total_s", statistics.median(p.ms for p in res.passes) / 1000, "s",
                 len(res.passes), "")]
        for name in QUERY_MIX:
            t = res.times(name)
            rows.append((f"{name}_s", statistics.median(t) / 1000, "s", len(t), ""))
        return rows

    def _pass(self, res: Result, tracer) -> None:
        for name in QUERY_MIX:
            cols: list[str] = []

            def go(name=name, cols=cols):
                df = self.queries[name](self.spark, self.sf_dir)
                cols.extend(df.columns)
                return df.collect()

            timed_op(res, tracer, "query", name, go,
                     lambda rows, name=name, cols=cols:
                     value_hash(cols, rows) == self.expected[name])


WORKLOADS = {
    "backup-lifecycle": BackupLifecycle,
    "query-mix": QueryMix,
}
