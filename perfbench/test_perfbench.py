"""Tests of the benchmark itself: seeded generators, output checks,
span self-times and status-store attribution.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from gen import (  # noqa: E402
    POINT_MIX,
    SF01_DIM,
    apply_edit_log,
    carried_fraction,
    lifecycle_generations,
    point_ops,
    query_tables,
)
from layers import self_by_op  # noqa: E402
from procs import cpu_seconds, stop_spark  # noqa: E402
from tracing import Span, merged_length, self_times  # noqa: E402
from workloads import (  # noqa: E402
    Result,
    check_get,
    check_list,
    check_repair,
    check_stats,
    timed_op,
    value_hash,
)


def _gens(seed):
    return lifecycle_generations(seed, 3, 1 << 20, min_size=256, max_size=256 << 10)


def _stored(gens):
    return {g.key(n): v for g in gens for n, v in g.objects.items()}


# -- generators -------------------------------------------------------------------


def test_same_seed_gives_identical_bytes_and_ops():
    a, b = _gens(7), _gens(7)
    assert [g.objects for g in a] == [g.objects for g in b]
    assert [g.edit_log for g in a] == [g.edit_log for g in b]
    assert point_ops(7, _stored(a), 2) == point_ops(7, _stored(b), 2)
    da, ea = query_tables(7, 50, 20)
    db, eb = query_tables(7, 50, 20)
    assert da.equals(db) and ea.equals(eb)


def test_different_seed_gives_different_bytes_and_ops():
    a, b = _gens(7), _gens(8)
    assert a[0].objects != b[0].objects
    assert point_ops(7, _stored(a), 2) != point_ops(8, _stored(a), 2)
    assert not query_tables(7, 50, 20)[0].equals(query_tables(8, 50, 20)[0])


def test_query_tables_take_the_sf01_shape():
    docs, emb = query_tables(3, 400, 50)
    texts = docs["text"].to_pylist()
    words = [len(t.removesuffix(" dup").split()) for t in texts]
    assert min(words) >= 10 and max(words) <= 100
    assert sum(t.endswith(" dup") for t in texts) == 20  # 5%
    assert docs["n_chars"].to_pylist() == [len(t) for t in texts]
    vecs = emb["embedding"].to_pylist()
    assert {len(v) for v in vecs} == {SF01_DIM}
    assert all(abs(sum(x * x for x in v) - 1) < 1e-5 for v in vecs)
    assert set(emb["label"].to_pylist()) <= set(range(10))


def test_generation_total_is_exact_and_sizes_span_the_chunk_paths():
    g0 = _gens(3)[0]
    assert g0.logical_bytes == 1 << 20
    sizes = sorted(len(v) for v in g0.objects.values())
    assert sizes[0] < 1024  # below min_chunk_size: the single-chunk path


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_consecutive_generations_share_the_intended_fraction(seed):
    gens = _gens(seed)
    for prev, cur in zip(gens, gens[1:]):
        # the log fully accounts for how cur was derived from prev
        assert apply_edit_log(prev, cur) == cur.objects
        n = len(prev.objects)
        ops = [e[1] for e in cur.edit_log]
        edited = {e[0] for e in cur.edit_log if e[1] in ("insert", "delete")}
        assert len(edited) == max(1, round(0.10 * n))
        assert ops.count("remove") == ops.count("add") == max(1, round(0.03 * n))
        # every byte of cur is either carried over or named by the log
        new_bytes = sum(e[3] for e in cur.edit_log if e[1] in ("insert", "add"))
        shared = carried_fraction(prev, cur)
        assert shared == pytest.approx(1 - new_bytes / cur.logical_bytes)
        # objects the log does not name are byte-identical
        for name in set(prev.objects) - {e[0] for e in cur.edit_log}:
            assert cur.objects[name] == prev.objects[name]


def test_point_ops_keep_the_mix_and_only_delete_what_they_wrote():
    stored = _stored(_gens(5))
    ops = point_ops(5, stored, 3)
    for verb, n in POINT_MIX.items():
        assert sum(op.verb == verb for op in ops) == 3 * n
    written = set()
    for op in ops:
        if op.verb == "write":
            assert op.key not in stored
            written.add(op.key)
        elif op.verb == "delete":
            assert op.key in written
            written.remove(op.key)
    assert any(op.verb == "exists" and op.key.endswith(".absent") for op in ops)


# -- output checks ------------------------------------------------------------------


class _Row:
    def __init__(self, object_key):
        self.object_key = object_key


class _Page:
    def __init__(self, keys):
        self.objects = [_Row(k) for k in keys]


class _Stats:
    object_count = 3
    logical_bytes = 100


def test_checks_reject_wrong_expected_values():
    assert check_get(b"abc", b"abc") and not check_get(b"abc", b"abd")
    assert check_list(_Page(["a", "b"]), ["a", "b"])
    assert not check_list(_Page(["a", "b"]), ["b", "a"])
    assert check_stats(_Stats(), 3, 100) and not check_stats(_Stats(), 3, 101)
    assert check_repair({"x": 0}) and not check_repair({"x": 0, "y": 1})
    rows = [(1, "a"), (2, "b")]
    assert value_hash(["id", "v"], rows) == value_hash(["id", "v"], rows[::-1])
    assert value_hash(["id", "v"], rows) != value_hash(["id", "v"], [(1, "a"), (2, "c")])


def test_a_failed_check_counts_the_op_as_failed():
    res = Result()
    timed_op(res, None, "engine", "get", lambda: b"payload", lambda out: out == b"payload")
    timed_op(res, None, "engine", "get", lambda: b"payload", lambda out: out == b"wrong")
    timed_op(res, None, "engine", "get", lambda: 1 / 0, lambda out: True)
    assert [o.ok for o in res.ops] == [True, False, False]
    assert res.failed == 2 and len(res.errors) == 2


def test_cpu_seconds_counts_reaped_child_processes():
    import subprocess

    before = cpu_seconds()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert cpu_seconds() - before >= 0.4


# -- spans --------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op.write", 0.0, 10.0, None, 0),
        Span(1, "engine.write", 1.0, 9.0, 0, 0),
        # two pooled children overlapping each other
        Span(2, "store.append", 2.0, 5.0, 1, 0),
        Span(3, "store.commit", 4.0, 6.0, 1, 0),
        Span(4, "bloom.build", 4.5, 5.5, 3, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(8.0 - 4.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)
    assert merged_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_engine_self_time_goes_to_the_calling_op():
    """write() calls write_batch: both spans' engine self time is the
    write op's, not split off under write_batch."""
    spans = [
        Span(0, "op.write", 0.0, 10.0, None, 0),
        Span(1, "engine.write", 1.0, 9.0, 0, 0),
        Span(2, "engine.write_batch", 2.0, 8.0, 1, 0),
        Span(3, "store.append", 3.0, 5.0, 2, 0),
        Span(4, "op.get", 10.0, 12.0, None, 4),
        Span(5, "engine.get", 10.5, 11.5, 4, 4),
    ]
    assert self_by_op(spans, self_times(spans), "engine") == pytest.approx({0: 6.0, 4: 1.0})


# -- Spark ----------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from watsondedupe_spark.session import get_spark

    s = get_spark("perfbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_spark()


def test_status_store_counts_pooled_jobs_outside_the_job_group(spark, tmp_path):
    """One write() runs jobs from the engine's commit pool, which do not
    inherit the caller's job group; the status-store delta counts them."""
    from tracing import SparkDeltas

    from watsondedupe_spark.engine import DedupeEngine

    eng = DedupeEngine.create(spark, str(tmp_path / "idx"))
    eng.write("warm", os.urandom(5000))
    sc = spark.sparkContext
    deltas = SparkDeltas(spark)
    sc.setJobGroup("perfbench-probe", "one write")
    try:
        eng.write("probe", os.urandom(100_000))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = deltas.read()
    in_group = len(sc.statusTracker().getJobIdsForGroup("perfbench-probe"))
    assert in_group >= 1
    assert got["jobs"] > in_group
    assert got["groups"].count("perfbench-probe") == in_group
    assert None in got["groups"]


def test_a_wrong_expected_value_fails_a_real_op(spark, tmp_path):
    from watsondedupe_spark.engine import DedupeEngine

    eng = DedupeEngine.create(spark, str(tmp_path / "idx"))
    data = os.urandom(3000)
    eng.write("k", data)
    res = Result()
    timed_op(res, None, "engine", "get", lambda: eng.get("k"), lambda out: check_get(out, data))
    timed_op(res, None, "engine", "get", lambda: eng.get("k"),
             lambda out: check_get(out, data[:-1] + b"\0"))
    timed_op(res, None, "engine", "exists", lambda: eng.exists("k.absent"),
             lambda out: out is True)
    assert [o.ok for o in res.ops] == [True, False, False]


def test_stop_spark_leaves_no_process_behind(tmp_path):
    """The JVM outlives a Python driver that just returns; stop_spark()
    ends it and its Python workers before the run exits."""
    import json
    import subprocess

    script = (
        "import json, os, sys\n"
        f"sys.path[:0] = [{HERE!r}, {ROOT!r}]\n"
        "from procs import descendants, stop_spark\n"
        "from watsondedupe_spark.session import get_spark\n"
        "s = get_spark('perfbench-stop', extra_conf={'spark.ui.showConsoleProgress': 'false'})\n"
        "s.range(100).rdd.map(lambda x: x).count()\n"
        "before = descendants()\n"
        "stop_spark()\n"
        "print(json.dumps({'before': len(before), 'after': len(descendants())}))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=170, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["before"] >= 2  # the JVM and the Python worker daemon
    assert got["after"] == 0
