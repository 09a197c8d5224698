"""Manifest-of-parts store: time travel, retention, GC safety, CAS.

Every test runs against BOTH backends (file-manifest ``IndexStore`` and
the SQLite-catalog ``SqliteIndexStore``): the engine's storage swap
point is only proven if a second implementation of the contract passes
the same suite — the analogue of the reference's DbProvider pluggability
(DbProvider.cs:10, MySQL proof in Test.External/Program.cs:188).
"""

import pytest

from watsondedupe_spark.store import (
    ConcurrentWriteError,
    IndexStore,
    SqliteIndexStore,
    open_store,
)


@pytest.fixture(params=["file", "sqlite"])
def store_cls(request):
    return IndexStore if request.param == "file" else SqliteIndexStore


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "cast(id as string) as object_key",
        "cast(id as long) as id",
        "cast(id as long) as original_length",
        "cast(id as long) as comp_length",
        "cast(1 as long) as chunk_count",
        "timestamp'2024-01-01' as created_utc",
    ).select("id", "object_key", "original_length", "comp_length", "chunk_count", "created_utc")


def test_time_travel_reads_each_version(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))      # v1: 10 rows
    st.append("objects", _df(spark, 10, 15))     # v2: 15 rows
    st.append("objects", _df(spark, 15, 17))     # v3: 17 rows
    assert st.read("objects").count() == 17
    assert st.read_version("objects", 1).count() == 10
    assert st.read_version("objects", 2).count() == 15
    assert st.read_version("objects", 3).count() == 17
    assert st.versions("objects") == [1, 2, 3]


def test_retention_expires_old_versions(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.retain_versions = 3
    for i in range(6):
        st.append("objects", _df(spark, i * 2, i * 2 + 2))
    vs = st.versions("objects")
    assert vs == [3, 4, 5, 6]  # floor = 6 - 3
    with pytest.raises(ValueError):
        st.read_version("objects", 2)
    # retained versions still resolve to live parts
    assert st.read_version("objects", 3).count() == 6


def test_commit_gc_preserves_time_travel_parts(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 5))       # v1
    st.commit("objects", _df(spark, 0, 8))       # v2 (retires v1's part
    # from CURRENT state, but v1 manifest is retained -> part survives)
    assert st.read("objects").count() == 8
    assert st.read_version("objects", 1).count() == 5


def test_compaction_keeps_current_snapshot(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.max_parts = 3
    for i in range(5):
        st.append("objects", _df(spark, i * 3, i * 3 + 3))
    assert st.read("objects").count() == 15
    state = st._state("objects")
    assert len(state["parts"]) <= st.max_parts


def test_manifest_meta_carries_forward_and_replaces(spark, tmp_path, store_cls):
    store = store_cls(spark, str(tmp_path / "meta_store"))
    df = spark.createDataFrame([(1,)], "x long")
    assert store.table_meta("t") == {}
    store.commit("t", df, meta={"max_id": 7})
    assert store.table_meta("t") == {"max_id": 7}
    # meta=None carries forward across append, commit, and the
    # append-triggered compaction fold
    store.append("t", df)
    assert store.table_meta("t") == {"max_id": 7}
    store.commit("t", df)
    assert store.table_meta("t") == {"max_id": 7}
    store.append("t", df, meta={"max_id": 9})
    assert store.table_meta("t") == {"max_id": 9}
    for _ in range(IndexStore.max_parts + 1):
        store.append("t", df)
    assert store.table_meta("t") == {"max_id": 9}


# -- optimistic concurrency (CAS) -------------------------------------------


def _assert_no_unpublished_parts(st, name):
    """Every part dir on disk is referenced by the current or a retained
    manifest: a refused publish left nothing behind (GC spares young
    dirs, so a leaked part would still be here)."""
    import os

    st._gc(name)
    referenced = set()
    for state in [st._state(name)] + [st._state_version(name, v) for v in st.versions(name)]:
        referenced |= {os.path.basename(p) for p in state["parts"]}
    on_disk = {e for e in os.listdir(st._table_dir(name)) if e.startswith("p")}
    assert on_disk <= referenced


@pytest.mark.parametrize("publish", ["commit", "compact_parts"])
def test_cas_commit_refuses_stale_version(spark, tmp_path, store_cls, publish):
    """A replace armed with expected_version, or a compaction of a part
    another writer already retired, must refuse to overwrite the
    concurrent writer's commit — the lost-update guard."""
    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)                       # v1
    v = st.current_version("t")
    if publish == "commit":
        st.commit("t", df)                   # concurrent writer lands v2
        with pytest.raises(ConcurrentWriteError):
            st.commit("t", df, expected_version=v)
        assert st.current_version("t") == 2
    else:
        st.append("t", df)                   # v2: two live parts
        parts = st.live_parts("t")
        st.compact_parts("t", parts[:1])     # concurrent writer retires one (v3)
        with pytest.raises(ConcurrentWriteError):
            st.compact_parts("t", parts)
        assert st.current_version("t") == 3
    # the refused part must not leak into the table or onto disk
    _assert_no_unpublished_parts(st, "t")


@pytest.mark.parametrize("publish", ["append", "attach_part"])
def test_cas_append_refuses_stale_version(spark, tmp_path, store_cls, publish):
    import os

    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)
    v = st.current_version("t")
    st.append("t", df)
    with pytest.raises(ConcurrentWriteError):
        if publish == "append":
            st.append("t", df, expected_version=v)
        else:
            staged = st.stage_part("t", df, v + 1)
            st.attach_part("t", staged, expected_version=v)
    if publish == "attach_part":
        assert not os.path.exists(staged)
    assert st.read("t").count() == 2  # the stale publish added nothing
    _assert_no_unpublished_parts(st, "t")


def test_attach_part_folds_at_max_parts(spark, tmp_path, store_cls):
    """At max_parts an attach folds the live rows and the staged part
    into ONE part, applies meta_merge, removes the staged dir, and still
    honours its CAS version."""
    import os

    st = store_cls(spark, str(tmp_path))
    st.max_parts = 3
    st.commit("objects", _df(spark, 0, 5), meta={"clustered_parts": ["x"]})
    st.append("objects", _df(spark, 5, 10))
    st.append("objects", _df(spark, 10, 15))
    v = st.current_version("objects")
    staged = st.stage_part("objects", _df(spark, 15, 20), v + 1)
    new = st.attach_part(
        "objects", staged, meta_merge={"max_id": 19}, expected_version=v
    )
    assert new == v + 1
    assert len(st.live_parts("objects")) == 1
    assert sorted(r.id for r in st.read("objects").collect()) == list(range(20))
    assert st.table_meta("objects") == {"clustered_parts": ["x"], "max_id": 19}
    assert not os.path.exists(staged)
    _assert_no_unpublished_parts(st, "objects")

    # a stale expected_version on the fold path raises and cleans up
    st.append("objects", _df(spark, 20, 25))
    st.append("objects", _df(spark, 25, 30))
    v = st.current_version("objects")
    staged = st.stage_part("objects", _df(spark, 30, 35), v + 1)
    st.append("objects", _df(spark, 35, 40))  # concurrent writer; still full
    with pytest.raises(ConcurrentWriteError):
        st.attach_part("objects", staged, meta_merge={"max_id": 34}, expected_version=v)
    assert not os.path.exists(staged)
    assert st.read("objects").count() == 35
    assert st.table_meta("objects")["max_id"] == 19
    _assert_no_unpublished_parts(st, "objects")


def test_concurrent_appends_rebase_no_lost_parts(spark, tmp_path, store_cls):
    """Interleaved appends from driver threads: every part must survive
    (the rebase inside the critical section) and versions must be
    monotone with no gaps."""
    from concurrent.futures import ThreadPoolExecutor

    st = store_cls(spark, str(tmp_path))
    st.commit("t", _df(spark, 0, 1))

    def one(i):
        st.append("t", _df(spark, 10 * (i + 1), 10 * (i + 1) + 3))

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(one, range(8)))
    assert st.read("t").count() == 1 + 8 * 3
    assert st.current_version("t") == 9  # 1 commit + 8 appends, no gaps


def test_open_store_autodetects_backend(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x long")
    f_root, s_root = str(tmp_path / "f"), str(tmp_path / "s")
    IndexStore(spark, f_root).commit("t", df)
    SqliteIndexStore(spark, s_root).commit("t", df)
    assert type(open_store(spark, f_root)) is IndexStore
    assert type(open_store(spark, s_root)) is SqliteIndexStore
    assert open_store(spark, s_root).read("t").count() == 1


def test_gc_spares_young_unreferenced_parts(spark, tmp_path, store_cls):
    """An unreferenced part dir may be a CONCURRENT writer's part
    mid-write (parts land before the manifest flip publishes them): GC
    must spare it until it ages past the grace window, then collect it
    as a crash orphan."""
    import os

    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)
    stray = os.path.join(st._table_dir("t"), "p99999999_deadbeef")
    os.makedirs(stray)
    st.commit("t", df)  # runs _gc
    assert os.path.isdir(stray), "in-flight-aged part must be spared"
    os.utime(stray, (1, 1))  # age it beyond the grace window
    st.commit("t", df)
    assert not os.path.exists(stray), "aged orphan must be collected"


def test_crash_artifacts_do_not_corrupt_store(spark, tmp_path, store_cls):
    """Simulated writer crash debris — a torn .tmp manifest, an orphan
    part dir, a stray history file for a version that never published —
    must leave reads and subsequent commits fully functional, and the
    debris must never become authoritative."""
    import json
    import os

    st = store_cls(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "x long")
    st.commit("t", df)  # v1
    tdir = st._table_dir("t")
    # torn tmp from a crashed flip attempt (file backend artifact; write
    # it regardless — it must be inert for both backends)
    with open(os.path.join(tdir, "_MANIFEST.tmp"), "w") as fh:
        fh.write("{ torn json")
    # orphan part dir from a crashed data write
    os.makedirs(os.path.join(tdir, "p00000099_dead0000"))
    # stray history file claiming a version that never published
    if store_cls.__name__ == "IndexStore":
        with open(st._version_pointer("t", 99), "w") as fh:
            json.dump({"version": 99, "parts": []}, fh)
    assert st.read("t").count() == 1          # current state unaffected
    assert st.current_version("t") == 1
    v2 = st.commit("t", spark.createDataFrame([(1,), (2,)], "x long"))
    assert v2 == 2                             # versioning continues cleanly
    assert st.read("t").count() == 2
    # the stray future-version history must not shadow real commits as
    # they reach that number; aged orphans are GC'd
    os.utime(os.path.join(tdir, "p00000099_dead0000"), (1, 1))
    st.commit("t", df)
    assert not os.path.exists(os.path.join(tdir, "p00000099_dead0000"))


# -- manifest min/max data skipping (round 8) --------------------------------


def test_part_stats_recorded_on_commit_and_append(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    state = st._state("objects")
    assert len(state["parts"]) == 2
    stats = state.get("stats", {})
    import os as _os

    spans = [stats[_os.path.basename(p)] for p in state["parts"]]
    assert all(set(s) == {"object_key", "id"} for s in spans)
    # the id spans are the two disjoint batch ranges
    assert sorted(s["id"] for s in spans) == [[0, 9], [10, 19]]


def test_read_point_prunes_to_matching_parts(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    st.append("objects", _df(spark, 10, 20))
    st.append("objects", _df(spark, 20, 30))
    state = st._state("objects")
    # id=25 lives only in the third part
    kept = st._prune_parts(state, {"id": [(25, 25)]})
    assert len(kept) == 1 and kept[0] == state["parts"][2]
    # correctness: the pruned read still returns exactly the probe row
    got = st.read_point("objects", "id", [25]).filter("id = 25").collect()
    assert len(got) == 1 and got[0].object_key == "25"
    # a miss outside every span prunes ALL parts -> empty typed frame
    assert st.read_point("objects", "id", [99]).count() == 0
    assert st._prune_parts(state, {"id": [(99, 99)]}) == []


def test_read_pruned_string_ranges(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 100, 110))  # keys "100".."109"
    st.append("objects", _df(spark, 300, 310))  # keys "300".."309"
    state = st._state("objects")
    kept = st._prune_parts(state, {"object_key": [("30", "30￿")]})
    assert kept == [state["parts"][1]]
    got = st.read_pruned(
        "objects", {"object_key": [("30", "30￿")]}
    ).filter("object_key like '30%'")
    assert got.count() == 10


def test_parts_without_stats_are_never_pruned(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    state = st._state("objects")
    state.pop("stats", None)  # simulate a pre-round-8 manifest
    assert st._prune_parts(state, {"id": [(99, 99)]}) == state["parts"]


def test_stage_attach_records_stats(spark, tmp_path, store_cls):
    st = store_cls(spark, str(tmp_path))
    path = st.stage_part("objects", _df(spark, 0, 5), 1)
    st.attach_part("objects", path)
    state = st._state("objects")
    import os as _os

    assert state["stats"][_os.path.basename(path)]["id"] == [0, 4]


def test_fold_preserves_skipping(spark, tmp_path, store_cls):
    """After the max_parts fold collapses everything into one part, the
    folded part's stats cover the whole span — skipping stays correct."""
    st = store_cls(spark, str(tmp_path))
    st.max_parts = 3
    for i in range(5):
        st.append("objects", _df(spark, i * 10, i * 10 + 10))
    state = st._state("objects")
    got = st.read_point("objects", "id", [42]).filter("id = 42").collect()
    assert len(got) == 1
    # spans recorded for every live part
    import os as _os

    for p in state["parts"]:
        assert _os.path.basename(p) in state.get("stats", {})


def test_read_key_range_prunes_files_not_rows(spark, tmp_path, store_cls):
    """read_key_range (r12) plans only the parquet FILES whose footer
    span can overlap [lo, hi) — but stays a SUPERSET selection: rows
    outside the range in a kept file still come back (the caller owns
    the exact predicate), multi-file clustered parts prune per file,
    and a boundary-touching file is kept."""
    st = store_cls(spark, str(tmp_path))
    # one part, 4 range-clustered files over object_key "000".."199"
    df = spark.range(200).selectExpr(
        "cast(id as long) as id",
        "lpad(cast(id as string), 3, '0') as object_key",
        "cast(id as long) as original_length",
        "cast(id as long) as comp_length",
        "cast(1 as long) as chunk_count",
        "timestamp'2024-01-01' as created_utc",
    ).select("id", "object_key", "original_length", "comp_length",
             "chunk_count", "created_utc")
    from pyspark.sql import functions as F

    st.commit(
        "objects",
        df.repartitionByRange(4, F.col("object_key")).sortWithinPartitions(
            "object_key"
        ),
    )
    full = st.read("objects")
    n_files = len(full.inputFiles())
    assert n_files == 4

    pruned = st.read_key_range("objects", "object_key", "050", "100")
    kept = pruned.inputFiles()
    assert 0 < len(kept) < n_files  # really pruned, really kept some
    # superset semantics: every in-range row present, exact filter final
    got = pruned.filter(
        (F.col("object_key") >= "050") & (F.col("object_key") < "100")
    )
    assert got.count() == 50
    # open bounds return everything
    assert st.read_key_range("objects", "object_key", None, None).count() == 200
    # a range beyond every span prunes all files -> empty typed frame
    assert st.read_key_range("objects", "object_key", "900", None).count() == 0


def test_read_key_range_keeps_statless_files(spark, tmp_path, store_cls):
    """A file whose footer stats can't be trusted is always planned —
    pruning is an optimization, never a correctness gate."""
    st = store_cls(spark, str(tmp_path))
    st.commit("objects", _df(spark, 0, 10))
    state = st._state("objects")
    # poison the span cache as if the footer read failed for every file
    import os as _os

    for part in state["parts"]:
        for f in _os.listdir(part):
            if f.endswith(".parquet"):
                st._file_span_cache[_os.path.join(part, f)] = None
    # with untrusted stats the files are kept, so all rows come back
    assert (
        st.read_key_range("objects", "object_key", "900", None).count()
        == st.read("objects").count()
    )
