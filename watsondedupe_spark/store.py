"""Snapshot-versioned parquet persistence for the index tables.

The reference keeps its index in SQLite with row-level CRUD serialized by
in-process mutexes (src/DedupeLibrary/Database/SqliteProvider.cs:29-30),
so concurrent callers can safely write. A Spark-native engine wants ACID
*table* commits instead. In production this layer is Delta Lake /
Iceberg (``MERGE INTO``, optimistic concurrency, time travel); this
container has plain parquet only, so we provide the same contract with a
manifest-of-parts design — the same file-log idea those formats use:

    {root}/{table}/p00000001_ab12cd34/...     immutable data part
    {root}/{table}/_MANIFEST                  json {version, parts}, atomic rename

A *commit* (full replace) writes one new part and a manifest referencing
only it. An *append* writes a part containing ONLY the new rows and a
manifest referencing old parts + the new one — O(batch), not O(table),
which is the difference between linear and quadratic total ingest cost
over many batches. Readers resolve the manifest once and scan the listed
parts as one multi-path parquet read. Once a table holds ``max_parts``
parts, the next append folds them into one (bounded read fan-in — the
OPTIMIZE/compaction analogue).

Every manifest version is also retained for the last ``retain_versions``
commits, so ``read_version`` gives Delta-style time travel: part files
stay on disk as long as ANY retained manifest references them, and GC
only removes parts unreachable from every retained version. Retention
also protects in-flight concurrent readers: a job scanning version N's
parts survives a writer publishing N+1 and GC-ing, because N stays in
the retained window.

Multi-writer semantics (optimistic concurrency, the Delta protocol's
shape — the batched analogue of the reference's writer mutexes):

* Data parts are written OUTSIDE any lock under collision-free unique
  names; only the manifest flip runs inside a short per-table critical
  section (``fcntl.flock`` here, a SQLite transaction in the second
  backend).
* There is ONE flip, :meth:`IndexStore._flip`: the only code that
  enters the critical section, reads the fresh state, bumps the version
  and writes it. Metadata-only changes (``update_meta``,
  ``restore_version``) are flips; every part-publishing call
  (``commit``, ``append``, ``attach_part``, ``compact_parts``) stages a
  part and hands it to :meth:`IndexStore._publish`, which owns the CAS
  check, the rebase, meta and skip-stats carry-forward, discarding the
  part on conflict, and GC.
* An append REBASES inside the critical section — the fresh manifest's
  part list plus the new part — so concurrent appends to one table
  interleave without lost parts (appends commute).
* ``expected_version`` arms the CAS check: if another writer has
  published since the caller read its snapshot, the flip is refused
  with :class:`ConcurrentWriteError` and the caller re-derives from the
  fresh snapshot and retries — which makes read-modify-write merges
  (refcount updates) serializable. ``expected_version=None`` keeps
  unconditional last-writer-wins replace for single-writer callers.
* There is ONE fold, :meth:`IndexStore._fold`: once ``max_parts`` parts
  are live, ``append`` and ``attach_part`` rewrite them plus the new
  rows (a DataFrame, or the staged part read back) as one part.

Two interchangeable backends prove the swap point (the reference's
``DbProvider`` pluggability, src/DedupeLibrary/Database/DbProvider.cs:10,
proven externally against MySQL in src/Test.External/Program.cs:188):
:class:`IndexStore` keeps manifests as JSON files; :class:`SqliteIndexStore`
keeps them in a SQLite catalog (``{root}/_manifest.db``) with CAS as a
``BEGIN IMMEDIATE`` transaction. The engine only calls the shared
contract (``read / snapshot / commit / append / table_meta / ...``) and
runs unchanged on either.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from watsondedupe_spark.schemas import TABLE_SCHEMAS


class ConcurrentWriteError(RuntimeError):
    """A CAS commit lost the race: the table advanced past the caller's
    snapshot version. Re-read, re-derive, retry."""


def _stale(name: str, expected: int, found: int) -> ConcurrentWriteError:
    return ConcurrentWriteError(
        f"{name}: expected version {expected}, "
        f"found {found} — another writer committed first"
    )


class IndexStore:
    """Parquet-backed table store with atomic manifest commits.

    File-manifest backend: the current state lives in ``_MANIFEST``
    (atomic ``os.replace`` flip), history in ``_MANIFEST.v{N}``, and the
    critical section is an ``fcntl.flock`` on ``_LOCK`` — which
    serializes both threads of one process (locks attach to the open
    file description) and separate processes on one host/NFS-with-locks.
    """

    #: appends fold all live parts into one once this many accumulate
    max_parts = 16
    #: how many historical manifest versions stay readable (time travel)
    retain_versions = 8
    #: bounded optimistic retries for internal read-modify-write (fold)
    cas_retries = 6
    #: GC spares unreferenced part dirs younger than this: a concurrent
    #: writer's part is WRITTEN before its manifest flip, so for a
    #: window it is indistinguishable from a crashed writer's orphan —
    #: deleting it mid-write kills the other writer's Spark job (the
    #: Delta/Iceberg answer is the same: orphan removal only beyond a
    #: retention age). Crash orphans are collected once they age out.
    gc_grace_seconds = 3600.0

    def __init__(self, spark: SparkSession, root: str):
        import threading

        self.spark = spark
        self.root = root
        # per-thread reentrancy depth for op_lock, keyed by lock name:
        # flock is NOT reentrant (a second acquisition from the same
        # thread opens a new file description and blocks forever), so
        # composite ops that nest — write_or_replace holding the lock
        # across its delete+write phases — ride the outer acquisition
        self._op_tls = threading.local()
        # parsed Bloom sidecars keyed by (part basename, col): parts
        # are immutable once published, so the cache never invalidates
        self._bloom_cache: dict = {}
        # per-file footer key spans (read_key_range): immutable too
        self._file_span_cache: dict = {}
        os.makedirs(root, exist_ok=True)

    # -- backend primitives (the only parts a new backend overrides) --------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_MANIFEST")

    def _version_pointer(self, name: str, version: int) -> str:
        return self._pointer(name) + f".v{version:08d}"

    @contextmanager
    def _transact(self, name: str):
        """Per-table critical section for manifest flips. flock on a
        lock file: exclusive between processes AND between threads of
        one process (each entry opens its own file description)."""
        import fcntl

        os.makedirs(self._table_dir(name), exist_ok=True)
        fd = os.open(
            os.path.join(self._table_dir(name), "_LOCK"), os.O_CREAT | os.O_RDWR
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _state(self, name: str) -> dict:
        try:
            with open(self._pointer(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "parts": []}

    def _state_version(self, name: str, version: int) -> dict | None:
        try:
            with open(self._version_pointer(name, version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_state(self, name: str, state: dict) -> None:
        """Persist ``state`` as the current manifest + retained history;
        MUST be called inside :meth:`_transact`."""
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        # retained history copy first, then the atomic current-pointer
        # flip: a crash between the two leaves the old current manifest
        # authoritative and at worst an orphan history file
        with open(self._version_pointer(name, state["version"]), "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._pointer(name))  # atomic on POSIX
        # expire history beyond the retention window
        floor = state["version"] - self.retain_versions
        for v in self.versions(name):
            if v < floor:
                try:
                    os.remove(self._version_pointer(name, v))
                except FileNotFoundError:
                    pass

    def versions(self, name: str) -> list[int]:
        """Retained (time-travel-readable) manifest versions, ascending."""
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        prefix = "_MANIFEST.v"
        return sorted(
            int(e[len(prefix):])
            for e in os.listdir(tdir)
            if e.startswith(prefix)
        )

    # -- shared internals ----------------------------------------------------

    def current_version(self, name: str) -> int:
        return self._state(name)["version"]

    def _df_for(
        self, name: str, parts: list[str], schema: StructType | None = None
    ) -> DataFrame:
        """One multi-path scan of ``parts`` (part dirs or single files);
        an empty typed frame when there is nothing to read."""
        if not parts:
            return self.spark.createDataFrame([], schema or TABLE_SCHEMAS[name])
        return self.spark.read.parquet(*parts)

    def _retained(self, name: str, version: int) -> dict:
        """Manifest state of retained ``version``; ValueError once the
        version has left the retention window."""
        state = self._state_version(name, version)
        if state is None:
            raise ValueError(
                f"version {version} of {name} is not retained "
                f"(have {self.versions(name)})"
            )
        return state

    # -- manifest-level data skipping ------------------------------------------

    #: per-table columns whose min/max footer stats are recorded in the
    #: manifest at write time. Point reads prune the PART LIST against
    #: them before Spark plans a scan — at 100 TB an ``exists()`` that
    #: opens every part's footer is an O(parts) driver stall; with the
    #: manifest span check it opens only the parts whose key range can
    #: contain the probe (the Delta/Iceberg data-skipping shape; the
    #: reference gets the same effect from its b-tree PK,
    #: SqliteProvider.cs:258-270).
    SKIP_STATS_COLS: dict[str, list[str]] = {
        "objects": ["object_key", "id"],
        "object_map": ["object_key"],
        "chunks": ["chunk_key"],
        "chunk_store": ["chunk_key"],
    }

    @staticmethod
    def _footer_spans(files: list[str], cols) -> dict | None:
        """``{col: [lo, hi]}`` over every row group of ``files`` for the
        ``cols`` they hold, read from parquet footers on the driver (no
        Spark job). None when any of those stats can't be trusted
        (missing min/max, unexpected types, unreadable footer): the
        caller then never prunes. Parquet's truncated string statistics
        stay safe — a truncated min is a lower bound and a truncated max
        an upper bound, so a span can only widen. Binary bounds decode
        as STRICT UTF-8: a lossy decode of truncated/invalid bytes is not
        order-preserving (U+FFFD can sort a truncated max BELOW real
        values), so an undecodable bound makes the stats untrusted."""
        import pyarrow.parquet as pq

        spans: dict[str, list] = {}
        try:
            for fpath in files:
                md = pq.ParquetFile(fpath).metadata
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        cname = col.path_in_schema
                        if cname not in cols:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return None
                        lo, hi = st.min, st.max
                        if isinstance(lo, bytes):
                            lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                        if not isinstance(lo, (str, int, float)):
                            return None
                        cur = spans.get(cname)
                        spans[cname] = (
                            [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
                        )
        except Exception:  # noqa: BLE001 — stats are an optimization only
            return None
        return spans

    def _part_stats(self, name: str, path: str) -> dict | None:
        """Skip-column spans across one part dir's footers, or None when
        they can't be trusted for every file and every skip column (a
        probe on an uncovered column would wrongly prune the part)."""
        cols = self.SKIP_STATS_COLS.get(name)
        if not cols:
            return None
        try:
            files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        except OSError:
            return None
        spans = self._footer_spans(files, cols)
        return spans if spans and set(spans) == set(cols) else None

    def _file_span(self, fpath: str, col: str):
        """``[lo, hi]`` of ``col`` across one parquet FILE (cached — parts
        are immutable), or None when untrusted (the file is then never
        pruned)."""
        cache = self._file_span_cache
        if fpath not in cache:
            if len(cache) >= 65536:
                cache.clear()
            cache[fpath] = (self._footer_spans([fpath], (col,)) or {}).get(col)
        return cache[fpath]

    def _prune_parts(
        self, state: dict, col_ranges: dict[str, list[tuple]]
    ) -> list[str]:
        """Parts whose recorded spans can satisfy EVERY column's range
        list (a part is kept when, for each column, ANY [lo, hi] range
        overlaps its span). Parts without recorded stats are always
        kept — skipping is an optimization, never a correctness gate."""
        stats = state.get("stats", {})
        kept = []
        for p in state["parts"]:
            spans = stats.get(os.path.basename(p))
            keep = True
            for col, ranges in col_ranges.items():
                span = (spans or {}).get(col)
                if span is None:
                    continue  # no stats for this column: cannot prune
                plo, phi = span
                if not any(
                    (lo is None or lo <= phi) and (hi is None or hi >= plo)
                    for lo, hi in ranges
                ):
                    keep = False
                    break
            if keep:
                kept.append(p)
        return kept

    def read_pruned(
        self,
        name: str,
        col_ranges: dict[str, list[tuple]],
        schema: StructType | None = None,
    ) -> DataFrame:
        """Current snapshot of ``name`` scanning only the parts whose
        manifest min/max spans overlap ``col_ranges`` (``{col: [(lo,
        hi), ...]}``; ``None`` bounds are open). The caller still applies
        the exact row filter — pruning only shrinks the file list."""
        return self._df_for(
            name, self._prune_parts(self._state(name), col_ranges), schema
        )

    def read_key_range(
        self,
        name: str,
        col: str,
        lo,
        hi,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Current snapshot of ``name`` planning only the parquet FILES
        whose footer ``col`` span can overlap ``[lo, hi)`` (``None``
        bounds open). Parquet row-group pruning skips the BYTES of
        out-of-range files, but Spark still lists and plans a task per
        file — on a range-clustered 100 TB table a 1-of-n scrub shard
        would schedule the full file count to read 1/n of it. Footer
        spans (:meth:`_file_span`) select the shard's files BEFORE the
        scan is planned. Files without trustworthy stats are always
        kept, and the caller still applies the exact row predicate —
        pruning only shrinks the file list, like :meth:`read_pruned`."""
        keep: list[str] = []
        for part in self._state(name).get("parts", []):
            try:
                files = sorted(
                    os.path.join(part, f)
                    for f in os.listdir(part)
                    if f.endswith(".parquet")
                )
            except OSError:
                keep.append(part)  # unreadable listing: scan whole part
                continue
            for fpath in files:
                span = self._file_span(fpath, col)
                if span is None:
                    keep.append(fpath)
                    continue
                flo, fhi = span
                if (lo is None or lo <= fhi) and (hi is None or hi > flo):
                    keep.append(fpath)
        # plain read like read() — same inferred schema as the unpruned
        # snapshot, so downstream plans are type-identical
        return self._df_for(name, keep, schema)

    #: (table, column) pairs whose keys are uniform cryptographic hashes
    #: (urlsafe-b64 SHA-256): any non-trivial part's span covers
    #: essentially the whole keyspace, so min/max SPAN pruning never
    #: skips a part there — part selection skips the span test for these
    #: and relies on the Bloom sidecars, which prune on membership rather
    #: than order.
    HASH_KEYED: frozenset = frozenset({("chunks", "chunk_key"), ("chunk_store", "chunk_key")})

    # -- per-part Bloom sidecars -------------------------------------------------

    #: key column per table that gets a Bloom sidecar at part-write
    #: time (see :mod:`watsondedupe_spark.bloom` for the design and the
    #: 100 TB rationale). Span stats answer "can this part's key RANGE
    #: contain the probe"; the bloom answers "does this part plausibly
    #: CONTAIN the probe" — the only question that prunes anything on
    #: the hash-keyed chunk tables, and the one that makes a negative
    #: ``exists()`` plan no scan at all.
    BLOOM_COLS: dict[str, str] = {
        "objects": "object_key",
        "object_map": "object_key",
        "chunks": "chunk_key",
        "chunk_store": "chunk_key",
    }

    def _write_part(self, name: str, df: DataFrame, path: str) -> None:
        """Write ``df`` as an immutable part dir plus its Bloom sidecar
        — the single choke point every part-creating path goes through,
        so no part can miss its sidecar by omission."""
        df.write.mode("overwrite").parquet(path)
        self._write_bloom(name, path)

    def _write_bloom(self, name: str, path: str) -> None:
        """Build ``{path}/_BLOOM.{col}`` from the part's key column — a
        driver-side columnar read-back of ONLY that column (no Spark
        job; the part was just written and is OS-cache-hot). Written
        atomically; any failure leaves no sidecar, which readers treat
        as "never prune this part"."""
        col = self.BLOOM_COLS.get(name)
        if not col:
            return
        try:
            import pyarrow.dataset as pads

            from watsondedupe_spark import bloom

            ds = pads.dataset(path, format="parquet")
            # safety valve: past ~16M keys the capped bitmap's FP rate
            # degrades toward useless while the build cost grows linear
            # on the driver — skip the sidecar (part is simply never
            # pruned) instead of stalling the commit
            if ds.count_rows() > 16_000_000:
                return
            raw = bloom.build_arrow(
                ds.to_table(columns=[col]).column(col).drop_null()
            )
            tmp = os.path.join(path, f"_BLOOM.{col}.tmp")
            with open(tmp, "wb") as f:
                f.write(raw)
            os.replace(tmp, os.path.join(path, f"_BLOOM.{col}"))
        except Exception:  # noqa: BLE001 — the sidecar is an optimization only
            pass

    def _part_bloom(self, path: str, col: str):
        """Parsed sidecar for one part (cached; parts are immutable),
        or None when absent/unreadable — meaning "cannot prune"."""
        key = (os.path.basename(path), col)
        cache = self._bloom_cache
        if key in cache:
            return cache[key]
        parsed = None
        try:
            from watsondedupe_spark import bloom

            with open(os.path.join(path, f"_BLOOM.{col}"), "rb") as f:
                parsed = bloom.parse(f.read())
        except Exception:  # noqa: BLE001 — absent/corrupt sidecar: keep part
            parsed = None
        if len(cache) >= 512:
            cache.clear()
        cache[key] = parsed
        return parsed

    def _bloom_prune(
        self, name: str, col: str, parts: list[str], values: list
    ) -> list[str]:
        """Parts whose Bloom sidecar says they MAY contain at least one
        of ``values``. Parts without a sidecar are always kept; false
        positives only widen the scan — skipping is an optimization,
        never a correctness gate (same contract as :meth:`_prune_parts`).
        """
        if not parts or not values or not all(isinstance(v, str) for v in values):
            return parts
        from watsondedupe_spark import bloom

        hashed = None  # probe hashes computed once, only if any sidecar exists
        kept = []
        for p in parts:
            parsed = self._part_bloom(p, col)
            if parsed is None:
                kept.append(p)
                continue
            if hashed is None:
                hashed = bloom.hash_pairs(values)
            if bloom.might_contain_any(parsed, *hashed):
                kept.append(p)
        return kept

    def parts_for_keys(self, name: str, col: str, values: list) -> list[str]:
        """Live parts that MAY contain any of ``values`` in ``col`` — the
        one part selector behind :meth:`read_point` and the engine's
        surgical part rewrites. Two independent witnesses apply: min/max
        SPANS (skipped on :attr:`HASH_KEYED` columns; the probe set is
        sorted once and each span tested by bisect, O(parts x log
        |values|)), then Bloom sidecars (:meth:`_bloom_prune`), which
        prune on MEMBERSHIP. Parts without stats/sidecars are always
        kept and false positives only widen the selection. A NULL probe
        has neither witness (footer spans and sidecars skip NULLs), and
        an empty ``values`` asks about nothing: both keep every part —
        the safe answer is "anywhere"."""
        state = self._state(name)
        parts = list(state.get("parts", []))
        if not parts or not values or any(v is None for v in values):
            return parts
        if (name, col) not in self.HASH_KEYED:
            import bisect

            try:
                vals = sorted(values)
            except TypeError:  # mixed/unorderable probe types: no span pruning
                vals = None
            if vals:
                stats = state.get("stats", {})
                kept = []
                for p in parts:
                    span = (stats.get(os.path.basename(p)) or {}).get(col)
                    if span is None:
                        kept.append(p)  # no stats: cannot prune
                        continue
                    # smallest probe >= the part's low bound; a hit iff
                    # it also sits at or below the part's high bound
                    i = bisect.bisect_left(vals, span[0])
                    if i < len(vals) and vals[i] <= span[1]:
                        kept.append(p)
                parts = kept
        if parts and self.BLOOM_COLS.get(name) == col:
            parts = self._bloom_prune(name, col, parts, list(values))
        return parts

    def read_point(
        self,
        name: str,
        col: str,
        values: list,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Point-lookup form of :meth:`read_pruned`: scan only the parts
        :meth:`parts_for_keys` selects for ``values``. An empty probe
        reads nothing. The caller still applies the exact row filter."""
        parts = self.parts_for_keys(name, col, values) if values else []
        return self._df_for(name, parts, schema)

    def read_version(self, name: str, version: int) -> DataFrame:
        """Snapshot of ``name`` as of ``version`` — Delta-style time
        travel over the retained manifest history."""
        return self._df_for(name, self._retained(name, version)["parts"])

    def version_meta(self, name: str, version: int) -> dict:
        """The caller-carried table meta AS OF retained ``version`` —
        the historical counterpart of :meth:`table_meta` (e.g. the
        objects high-water mark at a consistency point). Raises like
        :meth:`read_version` when the version has expired."""
        return self._retained(name, version).get("meta", {})

    def _gc(self, name: str) -> None:
        """Remove part dirs unreachable from the current manifest AND
        every retained historical manifest, SPARING dirs younger than
        :attr:`gc_grace_seconds` — those may be a concurrent writer's
        part mid-write (parts are written before the manifest flip
        publishes them). Crashed writers leave at worst an orphan dir
        that ages out; never a dangling reference; and retention keeps
        concurrent readers' parts live."""
        self.vacuum(name)

    def vacuum(self, name: str, grace_seconds: float | None = None) -> dict:
        """Explicit orphan-part removal with stats — the Delta VACUUM
        analogue. GC normally piggybacks on commits (:meth:`_gc`), so a
        QUIET table never reclaims a crashed writer's orphan dirs; this
        runs the same retention-protected sweep on demand and reports
        what it removed. A part is removed only when it is unreachable
        from the current manifest AND every retained historical
        manifest (concurrent readers of any retained version stay
        safe), and only when older than ``grace_seconds`` (default
        :attr:`gc_grace_seconds`) — an in-flight concurrent writer's
        part is written BEFORE its manifest flip publishes it, so a
        younger unreferenced dir is indistinguishable from one.
        Returns ``{"parts_removed": n, "mb_reclaimed": mb}``."""
        import time

        grace = self.gc_grace_seconds if grace_seconds is None else grace_seconds
        live: set[str] = set()
        states = [self._state(name)] + [
            s
            for s in (self._state_version(name, v) for v in self.versions(name))
            if s is not None
        ]
        for state in states:
            live.update(os.path.basename(p) for p in state["parts"])
        tdir = self._table_dir(name)
        removed, freed = 0, 0
        if not os.path.isdir(tdir):
            return {"parts_removed": 0, "mb_reclaimed": 0.0}
        now = time.time()
        for entry in os.listdir(tdir):
            if not entry.startswith("p") or entry in live:
                continue
            path = os.path.join(tdir, entry)
            try:
                if now - os.path.getmtime(path) < grace:
                    continue  # possibly a concurrent writer's in-flight part
            except OSError:
                continue  # vanished under us: its writer is cleaning up
            freed += self.parts_bytes([path])
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
        return {"parts_removed": removed, "mb_reclaimed": round(freed / 1e6, 3)}

    # -- contract -----------------------------------------------------------

    @contextmanager
    def op_lock(self, name: str = "write"):
        """Per-INDEX advisory lock for composite multi-table operations
        (``{root}/_OPLOCK.{name}``, flock — cross-process and
        cross-thread on one host; both backends share it).

        The per-table CAS guarantees no table-level lost updates, but a
        composite operation (ingest = 4 table commits, delete = 4
        commits + payload GC) has no cross-table transaction, so two
        composite ops interleaving can produce cross-table anomalies
        (double-ingest of one key passing both pre-checks; a payload GC
        racing a revival). Engine write/delete paths therefore hold
        this lock for their commit phase — the batched analogue of the
        reference's writer mutex (SqliteProvider.cs:29-30) — while the
        expensive chunking/scan work stays outside it. CAS remains as
        defense in depth for writers that bypass the lock. On a real
        Delta deployment this is replaced by commit-conflict retries
        within one transaction log.

        REENTRANT per thread (per store instance): a thread already
        holding the lock re-enters immediately instead of deadlocking on
        a second flock, which is what lets ``write_or_replace`` hold one
        critical section across its delete and write phases while each
        phase takes the lock itself. Reentrancy is tracked on THIS
        instance — a second store object on the same root still blocks
        (it is a different writer as far as the protocol is concerned).
        Custom ``store_cls`` backends must preserve both properties:
        cross-process exclusion and same-thread reentrancy (see
        :meth:`~watsondedupe_spark.engine.DedupeEngine.create`).
        """
        import fcntl

        depth = getattr(self._op_tls, "depth", None)
        if depth is None:
            depth = self._op_tls.depth = {}
        if depth.get(name, 0) > 0:
            depth[name] += 1
            try:
                yield
            finally:
                depth[name] -= 1
            return
        fd = os.open(
            os.path.join(self.root, f"_OPLOCK.{name}"), os.O_CREAT | os.O_RDWR
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            depth[name] = 1
            try:
                yield
            finally:
                depth[name] = 0
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def exists(self, name: str) -> bool:
        return self.current_version(name) > 0

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Current snapshot of ``name``; empty (typed) DataFrame if absent."""
        return self._df_for(name, self._state(name)["parts"], schema)

    def snapshot(self, name: str, schema: StructType | None = None):
        """``(version, DataFrame, meta)`` resolved from ONE manifest
        read — the consistent basis for a CAS read-modify-write: derive
        the new state from the DataFrame/meta, then
        ``commit(..., expected_version=version)``."""
        state = self._state(name)
        return state["version"], self._df_for(name, state["parts"], schema), state.get("meta", {})

    def table_meta(self, name: str) -> dict:
        """Caller-provided table statistics carried in the manifest (the
        Delta/Iceberg table-properties analogue). Empty dict if none."""
        return self._state(name).get("meta", {})

    def live_parts(self, name: str) -> list[str]:
        """Current manifest's part paths (one manifest read, no Spark
        job) — what :meth:`compact_parts` callers select a rewrite
        subset from."""
        return list(self._state(name).get("parts", []))

    def parts_bytes(self, parts: list[str]) -> int:
        """On-disk bytes of the given part dirs (driver-side walk, no
        Spark job), used to size a compaction's output file count."""
        total = 0
        for part in parts:
            for dirpath, _, files in os.walk(part):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
        return total

    # -- the flip, the publisher and the fold ----------------------------------

    def _flip(self, name: str, fn) -> dict:
        """THE manifest flip, and the only code that enters the critical
        section: read the fresh state, derive the next one as
        ``fn(fresh)`` (which refuses by raising), bump the version and
        persist it. Returns the published state."""
        with self._transact(name):
            fresh = self._state(name)
            new = fn(fresh)
            new["version"] = fresh["version"] + 1
            if not new.get("stats"):
                new.pop("stats", None)
            self._write_state(name, new)
        return new

    def _stage(self, name: str, df: DataFrame, version_hint: int) -> str:
        """Write ``df`` as an unpublished part under a collision-free
        name (version hint for operator legibility + uuid suffix so
        racing writers never share a path); returns its path."""
        os.makedirs(self._table_dir(name), exist_ok=True)
        path = os.path.join(
            self._table_dir(name), f"p{version_hint:08d}_{uuid.uuid4().hex[:8]}"
        )
        self._write_part(name, df, path)
        return path

    def _publish(
        self,
        name: str,
        path: str,
        expected_version: int | None = None,
        retire: list[str] | None = (),
        meta: dict | None = None,
        meta_merge: dict | None = None,
        meta_fn=None,
    ) -> int:
        """Flip the staged part ``path`` into the manifest — the one CAS
        contract every part-publishing call shares. Returns the new
        version.

        ``retire`` names the live parts the new part supersedes: empty
        for an append (the part list REBASES on the fresh manifest, so
        concurrent appends commute), ``None`` for every live part (a
        full replace), or a subset that must all still be live at flip
        time (a compaction: rewriting retired rows would resurrect
        them). The flip is refused with :class:`ConcurrentWriteError`,
        and the staged part discarded, when ``expected_version`` is set
        and the table has moved past it or when a part to retire is
        already gone.

        Meta: ``None`` carries the fresh manifest's meta forward, a dict
        replaces it, ``meta_merge`` merges keys into it and
        ``meta_fn(meta, new_parts, path)`` derives it. Surviving parts'
        skip stats carry forward; the new part's are read from its
        footers OUTSIDE the critical section. A publish that can retire
        parts runs GC afterwards."""
        part_stats = self._part_stats(name, path)

        def next_state(fresh: dict) -> dict:
            if expected_version is not None and fresh["version"] != expected_version:
                raise _stale(name, expected_version, fresh["version"])
            if retire is None:
                parts = [path]
            else:
                gone = set(retire)
                missing = sorted(gone - set(fresh["parts"]))
                if missing:
                    raise ConcurrentWriteError(
                        f"{name}: parts retired under compaction "
                        f"(another writer committed first): {missing}"
                    )
                parts = [p for p in fresh["parts"] if p not in gone] + [path]
            new_meta = fresh.get("meta", {}) if meta is None else meta
            if meta_merge:
                new_meta = {**new_meta, **meta_merge}
            if meta_fn is not None:
                new_meta = meta_fn(dict(new_meta), parts, path)
            live = {os.path.basename(p) for p in parts}
            stats = {k: v for k, v in fresh.get("stats", {}).items() if k in live}
            if part_stats is not None:
                stats[os.path.basename(path)] = part_stats
            return {"parts": parts, "meta": new_meta, "stats": stats}

        try:
            version = self._flip(name, next_state)["version"]
        except ConcurrentWriteError:
            shutil.rmtree(path, ignore_errors=True)
            raise
        if retire is None or retire:
            self._gc(name)
        return version

    def _fold(
        self,
        name: str,
        rows: DataFrame,
        meta: dict | None,
        expected_version: int | None,
        meta_merge: dict | None,
    ) -> int:
        """THE fold: rewrite every live part plus ``rows`` as one part
        (bounded read fan-in once :attr:`max_parts` accumulate) and
        publish it as a full replace armed at the version it read, so a
        fold never swallows a concurrent writer's commit. A lost race
        re-reads and retries up to :attr:`cas_retries` times — unless
        the caller armed ``expected_version``, whose first conflict
        raises."""
        last_err: ConcurrentWriteError | None = None
        for _ in range(self.cas_retries):
            state = self._state(name)
            v = state["version"]
            if expected_version is not None and v != expected_version:
                raise _stale(name, expected_version, v)
            folded = self._df_for(name, state["parts"], rows.schema).unionByName(rows)
            path = self._stage(name, folded, v + 1)
            try:
                return self._publish(
                    name, path, v, retire=None, meta=meta, meta_merge=meta_merge
                )
            except ConcurrentWriteError as e:
                if expected_version is not None:
                    raise
                last_err = e
        raise last_err  # contended beyond the retry budget

    # -- publishing calls ----------------------------------------------------

    def restore_version(self, name: str, version: int) -> int:
        """Metadata-only rollback (the Delta RESTORE analogue):
        re-point the table at ``version``'s part list / meta / skip
        stats as a NEW version. No data is copied — at 100 TB a
        rollback that rewrote the payload table would be a day-long
        job; this is one manifest write. History is preserved, so the
        rollback is itself undoable while retained, and the historical
        parts stay GC-protected because :meth:`_gc` spares anything
        reachable from ANY retained manifest. Returns the new version.
        """
        hist = self._retained(name, version)
        return self._flip(
            name,
            lambda fresh: {
                "parts": hist.get("parts", []),
                "meta": hist.get("meta", {}),
                "stats": hist.get("stats"),
            },
        )["version"]

    def update_meta(self, name: str, fn) -> dict:
        """Transactional METADATA-ONLY update: ``meta = fn(meta)``
        inside the critical section, version bumped, parts untouched.
        O(one manifest write) — no Spark job, no parquet I/O. This is
        what makes a per-composite-op ledger (engine checkpoints)
        affordable: a 1-row parquet append would put a full Spark
        job on every ingest's fixed-cost floor, and the engine's
        small-batch path is fixed-cost-dominated by design."""
        return self._flip(
            name,
            lambda fresh: {**fresh, "meta": fn(dict(fresh.get("meta") or {}))},
        )["meta"]

    def commit(
        self,
        name: str,
        df: DataFrame,
        meta: dict | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Write ``df`` as the full new table state; flip the manifest
        atomically; retire every previous part.

        ``meta=None`` carries the previous manifest's meta forward; pass
        a dict to replace it. ``expected_version`` arms the CAS check:
        if the table has advanced past it by flip time the new part is
        discarded and :class:`ConcurrentWriteError` raised — the caller
        re-derives from a fresh :meth:`snapshot` and retries. ``None``
        keeps unconditional last-writer-wins replace.
        """
        hint = (expected_version if expected_version is not None
                else self.current_version(name)) + 1
        path = self._stage(name, df, hint)
        return self._publish(name, path, expected_version, retire=None, meta=meta)

    def append(
        self,
        name: str,
        df: DataFrame,
        meta: dict | None = None,
        expected_version: int | None = None,
        meta_merge: dict | None = None,
    ) -> int:
        """Append ONLY the new rows as a fresh part — O(batch) I/O.

        (With Delta this is a metadata-only append commit; the manifest
        gives plain parquet the same cost shape.) The part list REBASES
        inside the critical section, so concurrent appends interleave
        without lost parts. ``expected_version`` opts into the CAS check
        instead — for appends whose ROWS were derived from a snapshot
        (insert-if-absent, sequence-id assignment) and must be re-derived
        if another writer landed first. Once ``max_parts`` parts are live
        the append folds them into one (:meth:`_fold`).
        ``meta`` as in :meth:`commit`; ``meta_merge`` instead MERGES the
        given keys into the carried meta inside the critical section —
        an append that only advances its own watermark (e.g. the objects
        id high-water) must not clobber meta other machinery maintains
        (``clustered_parts``: wiping it silently degrades the next
        incremental ``optimize()`` into a full-table refold).
        """
        state = self._state(name)
        if len(state["parts"]) >= self.max_parts:
            return self._fold(name, df, meta, expected_version, meta_merge)
        path = self._stage(name, df, state["version"] + 1)
        return self._publish(
            name, path, expected_version, meta=meta, meta_merge=meta_merge
        )

    def stage_part(self, name: str, df: DataFrame, version_hint: int) -> str:
        """Write ``df`` as an UNPUBLISHED part dir and return its path —
        the expensive half of an append (the Spark write job), split out
        so it can overlap other work; nothing references the part until
        :meth:`attach_part` flips it into the manifest. A crash between
        stage and attach leaves an invisible orphan dir that
        :meth:`_gc` ages out (the same guarantee in-flight concurrent
        appends already rely on). This is the Delta/Iceberg commit
        shape: optimistic data-file write, serialized metadata flip."""
        return self._stage(name, df, version_hint)

    def attach_part(
        self,
        name: str,
        path: str,
        meta: dict | None = None,
        expected_version: int | None = None,
        meta_merge: dict | None = None,
    ) -> int:
        """Publish a staged part: the manifest-flip half of an append —
        no Spark job, just the transactional pointer update. When the
        part list is full the staged part is instead one more input of
        the fold (:meth:`_fold`) and is removed afterwards. CAS semantics
        match :meth:`append`: on conflict the staged part is discarded
        and :class:`ConcurrentWriteError` raised — the caller re-derives
        its rows from a fresh snapshot (staged ids/absence sets are
        snapshot-derived and stale after a conflicting commit).
        ``meta``/``meta_merge`` as in :meth:`append`."""
        if len(self._state(name)["parts"]) >= self.max_parts:
            try:
                return self._fold(
                    name, self.spark.read.parquet(path), meta, expected_version,
                    meta_merge,
                )
            finally:
                shutil.rmtree(path, ignore_errors=True)
        return self._publish(
            name, path, expected_version, meta=meta, meta_merge=meta_merge
        )

    def compact(self, name: str, layout=None) -> int:
        """Fold all live parts into one (the OPTIMIZE analogue); 0 on an
        absent or empty table. Retries :meth:`compact_parts` over the
        fresh part list, so a concurrent append survives the compaction
        and a concurrent replace is never swallowed.

        ``layout`` is an optional DataFrame->DataFrame reshaping applied
        before the rewrite (e.g. range-clustering by key so key-range
        predicates prune row groups afterwards); it must be a pure
        re-layout — same rows, any order/partitioning."""
        last_err: ConcurrentWriteError | None = None
        for _ in range(self.cas_retries):
            try:
                return self.compact_parts(name, self.live_parts(name), layout)
            except ConcurrentWriteError as e:
                last_err = e
        raise last_err

    def compact_parts(self, name: str, parts: list[str], layout=None, meta_fn=None) -> int:
        """Rewrite ONLY ``parts`` into one new part, leaving every other
        live part's bytes untouched — the Delta/Iceberg OPTIMIZE-binpack
        commit shape, and the primitive behind the engine's INCREMENTAL
        ``optimize()``: a follow-on compaction after a small append
        rewrites O(append bytes), not O(table).

        Commutes with concurrent APPENDS (the flip rebases on the fresh
        manifest, so parts landed mid-rewrite survive untouched). A
        concurrent full COMMIT / competing compaction that retired one
        of ``parts`` aborts with :class:`ConcurrentWriteError` — the new
        part is discarded and the caller re-derives its subset from a
        fresh manifest (rewriting retired rows would resurrect them).

        ``layout`` as in :meth:`compact` for compaction callers; unlike
        :meth:`compact` it MAY drop rows when the caller's contract is a
        rewrite-with-cleanup (``engine.repair()`` canonicalizes corrupt
        payload rows out of exactly the affected parts this way).
        ``meta_fn(meta, new_parts, new_part)`` lets the caller update
        carried table meta (e.g. the clustered-parts watermark) in the
        SAME manifest flip — no extra version churn. Returns the new
        manifest version (0 when the table is absent or ``parts`` is
        empty)."""
        version = self.current_version(name)
        if not version or not parts:
            return 0
        df = self.spark.read.parquet(*parts)
        if layout is not None:
            df = layout(df)
        path = self._stage(name, df, version + 1)
        return self._publish(name, path, retire=parts, meta_fn=meta_fn)


class SqliteIndexStore(IndexStore):
    """Second backend proving the storage swap point: manifests live in
    a SQLite catalog instead of JSON files.

    Mirrors the reference's ``DbProvider`` pluggability
    (src/DedupeLibrary/Database/DbProvider.cs:10 — SQLite built in, the
    external test proves MySQL): the engine calls the same
    ``read/snapshot/commit/append/table_meta`` contract and cannot tell
    the backends apart. Data parts stay immutable parquet dirs; only the
    STATE primitives differ — current/history manifests are rows in
    ``{root}/_manifest.db`` and the critical section is a
    ``BEGIN IMMEDIATE`` transaction, which also serializes writers
    across processes. Honesty note on granularity: SQLite's write lock
    is DATABASE-wide, so manifest flips on *different* tables of one
    index serialize here, where the file backend's flock is per-table.
    Flips are millisecond file-ops (the parquet writes happen outside
    the critical section), so the four concurrent engine commits lose
    only flip-interleaving, not write overlap. Detection:
    :func:`open_store` picks this backend when the catalog file exists.
    """

    CATALOG = "_manifest.db"

    def __init__(self, spark: SparkSession, root: str):
        import threading
        from contextlib import closing

        super().__init__(spark, root)
        self._db_path = os.path.join(root, self.CATALOG)
        # the active transaction connection is THREAD-local: the engine
        # commits four tables concurrently from driver threads, each in
        # its own critical section
        self._tls = threading.local()
        with closing(self._conn()) as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS manifests ("
                " name TEXT NOT NULL, version INTEGER NOT NULL,"
                " state TEXT NOT NULL, PRIMARY KEY (name, version))"
            )
            con.execute(
                "CREATE TABLE IF NOT EXISTS current ("
                " name TEXT PRIMARY KEY, version INTEGER NOT NULL)"
            )

    def _conn(self):
        import sqlite3

        con = sqlite3.connect(self._db_path, timeout=30.0)
        con.isolation_level = None  # explicit transactions only
        return con

    # -- overridden state primitives ----------------------------------------

    @contextmanager
    def _transact(self, name: str):
        os.makedirs(self._table_dir(name), exist_ok=True)
        con = self._conn()
        try:
            # IMMEDIATE takes the write lock up front: the read-check-
            # write inside the critical section is atomic across
            # processes, the same guarantee flock gives the file backend
            con.execute("BEGIN IMMEDIATE")
            self._tls.txn = con
            try:
                yield
                con.execute("COMMIT")
            except BaseException:
                con.execute("ROLLBACK")
                raise
        finally:
            self._tls.txn = None
            con.close()

    def _q(self, sql: str, args=()):
        from contextlib import closing

        con = getattr(self._tls, "txn", None)
        if con is not None:
            return con.execute(sql, args).fetchall()
        with closing(self._conn()) as con:
            return con.execute(sql, args).fetchall()

    def _state(self, name: str) -> dict:
        rows = self._q(
            "SELECT m.state FROM current c JOIN manifests m"
            " ON m.name = c.name AND m.version = c.version WHERE c.name = ?",
            (name,),
        )
        return json.loads(rows[0][0]) if rows else {"version": 0, "parts": []}

    def _state_version(self, name: str, version: int) -> dict | None:
        rows = self._q(
            "SELECT state FROM manifests WHERE name = ? AND version = ?",
            (name, version),
        )
        return json.loads(rows[0][0]) if rows else None

    def _write_state(self, name: str, state: dict) -> None:
        # inside _transact: all three statements commit atomically
        self._q(
            "INSERT OR REPLACE INTO manifests (name, version, state) VALUES (?,?,?)",
            (name, state["version"], json.dumps(state)),
        )
        self._q(
            "INSERT OR REPLACE INTO current (name, version) VALUES (?,?)",
            (name, state["version"]),
        )
        self._q(
            "DELETE FROM manifests WHERE name = ? AND version < ?",
            (name, state["version"] - self.retain_versions),
        )

    def versions(self, name: str) -> list[int]:
        return [
            r[0]
            for r in self._q(
                "SELECT version FROM manifests WHERE name = ? ORDER BY version",
                (name,),
            )
        ]


def open_store(spark: SparkSession, root: str) -> IndexStore:
    """Backend autodetection: the SQLite catalog marks its indexes; the
    file-manifest layout is the default."""
    if os.path.exists(os.path.join(root, SqliteIndexStore.CATALOG)):
        return SqliteIndexStore(spark, root)
    return IndexStore(spark, root)
