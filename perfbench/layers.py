"""Per-layer metrics of a traced run, named after the package modules.

Every name in :func:`names` is reported by every traced run; a metric
whose layer does no work in the workload reads 0. Conventions:
``*.ms`` are means per call; ``engine.<verb>.self_ms`` is the engine's
self time (span minus child spans) per client op of that verb;
``*.calls`` and the Bloom/fold counts are per client op; ``spark.*``
and ``queries.*`` are means per call of that verb or query.
"""

from __future__ import annotations

import statistics

from tracing import ENGINE_VERBS, self_times
from workloads import QUERY_MIX

SPARK_COUNTERS = (("jobs", "count"), ("scan_bytes", "B"), ("shuffle_bytes", "B"),
                  ("exec_run_ms", "ms"))
STORE_MS = ("read_point", "read_pruned", "snapshot", "commit", "append", "stage_part",
            "attach_part")
LAYERS = ("engine", "store", "bloom", "chunking")


def names() -> list[tuple[str, str]]:
    out = [(f"engine.{v}.self_ms", "ms") for v in ENGINE_VERBS]
    out += [("engine.cas_retries", "count/op"), ("engine.ledger_writes", "count/op")]
    out += [(f"spark.{v}.{c}", u) for v in ENGINE_VERBS for c, u in SPARK_COUNTERS]
    out += [("store.read_point.calls", "count/op"), ("store.read_point.parts_live", "count"),
            ("store.read_point.parts_read", "count")]
    out += [(f"store.{c}.ms", "ms") for c in STORE_MS]
    out += [("store.commit.calls", "count/op"), ("store.append.calls", "count/op"),
            ("store.fold.calls", "count/op"), ("store.op_lock.wait_ms", "ms"),
            ("store.write_amp", "ratio")]
    out += [("bloom.build.calls", "count/op"), ("bloom.build.ms", "ms"),
            ("bloom.probe.calls", "count/op"), ("bloom.parts_skipped", "count/op")]
    out += [("chunking.prepare_ms", "ms"), ("chunking.mbps", "MB/s"),
            ("chunking.chunks_out", "count"), ("chunking.dedup_hit_frac", "ratio")]
    for q in QUERY_MIX:
        out += [(f"queries.{q}.s", "s"), (f"queries.{q}.jobs", "count"),
                (f"queries.{q}.scan_bytes", "B"), (f"queries.{q}.shuffle_bytes", "B")]
    out += [(f"layer.{layer}.self_ms", "ms/op") for layer in LAYERS]
    out += [("mem.jvm_hwm_mb", "MB"), ("mem.py_hwm_mb", "MB")]
    out += [("trace.pass_s", "s"), ("trace.overhead_pct", "%"), ("trace.tracer_ms", "ms/op")]
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def self_by_op(spans, selfs: dict[int, float], layer: str) -> dict[int, float]:
    """Client-op id -> self time of all ``layer`` spans under that op.
    Nested verbs count toward the op that called them: ``write()`` runs
    ``write_batch``, and its engine time is the write's."""
    out: dict[int, float] = {}
    for s in spans:
        if s.layer == layer:
            out[s.op] = out.get(s.op, 0.0) + selfs[s.id]
    return out


def per_layer(tracer, traced, spark) -> dict[str, tuple[float, str]]:
    """Every metric of :func:`names` from one traced run.

    The tracing overhead is reported two ways: ``trace.pass_s`` is the
    traced run's ``pass_wall_s``, to subtract from an untraced run's of the
    same seed, and ``trace.overhead_pct`` is the tracer's own bookkeeping
    (status-store reads, part listings) as a share of the traced ops' time."""
    spans = tracer.spans
    selfs = self_times(spans)
    n_ops = max(1, len(tracer.ops))
    counts = tracer.counts
    v: dict[str, float] = {}

    def spans_named(name):
        return [s for s in spans if s.name == name]

    engine_self = self_by_op(spans, selfs, "engine")
    for verb in ENGINE_VERBS:
        ops = [o for o in tracer.ops if o["kind"] == "engine" and o["name"] == verb]
        v[f"engine.{verb}.self_ms"] = 1000 * _mean(engine_self.get(o["id"], 0.0) for o in ops)
        for c, _ in SPARK_COUNTERS:
            v[f"spark.{verb}.{c}"] = _mean(o["spark"][c] for o in ops)
    v["engine.cas_retries"] = counts.get("engine.cas_retries", 0) / n_ops
    v["engine.ledger_writes"] = counts.get("engine.ledger_writes", 0) / n_ops

    reads = max(1, counts.get("store.read_point.calls", 0))
    v["store.read_point.calls"] = counts.get("store.read_point.calls", 0) / n_ops
    v["store.read_point.parts_live"] = counts.get("store.read_point.parts_live", 0) / reads
    v["store.read_point.parts_read"] = counts.get("store.read_point.parts_read", 0) / reads
    for c in STORE_MS:
        v[f"store.{c}.ms"] = 1000 * _mean(s.end - s.start for s in spans_named(f"store.{c}"))
    v["store.commit.calls"] = counts.get("store.commit.calls", 0) / n_ops
    v["store.append.calls"] = counts.get("store.append.calls", 0) / n_ops
    v["store.fold.calls"] = counts.get("store.fold.calls", 0) / n_ops
    v["store.op_lock.wait_ms"] = 1000 * _mean(
        s.end - s.start for s in spans_named("store.op_lock_wait"))
    ingested = counts.get("chunking.bytes", 0)
    v["store.write_amp"] = counts.get("store.bytes_written", 0) / ingested if ingested else 0.0

    v["bloom.build.calls"] = len(spans_named("bloom.build")) / n_ops
    v["bloom.build.ms"] = 1000 * _mean(s.end - s.start for s in spans_named("bloom.build"))
    v["bloom.probe.calls"] = len(spans_named("bloom.probe")) / n_ops
    v["bloom.parts_skipped"] = counts.get("bloom.parts_skipped", 0) / n_ops

    prep = spans_named("chunking.prepare")
    prep_s = sum(s.end - s.start for s in prep)
    v["chunking.prepare_ms"] = 1000 * prep_s / len(prep) if prep else 0.0
    v["chunking.mbps"] = ingested / 1e6 / prep_s if prep_s else 0.0
    v["chunking.chunks_out"] = traced.extra.get("chunks_out", 0.0)
    v["chunking.dedup_hit_frac"] = traced.extra.get("dedup_hit_frac", 0.0)

    qops = [o for o in tracer.ops if o["kind"] == "query"]
    for q in QUERY_MIX:
        mine = [o for o in qops if o["name"] == q]
        v[f"queries.{q}.s"] = _mean(o["ms"] for o in mine) / 1000
        v[f"queries.{q}.jobs"] = _mean(o["spark"]["jobs"] for o in mine)
        v[f"queries.{q}.scan_bytes"] = _mean(o["spark"]["scan_bytes"] for o in mine)
        v[f"queries.{q}.shuffle_bytes"] = _mean(o["spark"]["shuffle_bytes"] for o in mine)

    for layer in LAYERS:
        v[f"layer.{layer}.self_ms"] = 1000 * sum(
            selfs[s.id] for s in spans if s.layer == layer) / n_ops

    v["mem.jvm_hwm_mb"] = _hwm_mb(spark.sparkContext._jvm.ProcessHandle.current().pid())
    v["mem.py_hwm_mb"] = _hwm_mb("self")

    v["trace.pass_s"] = statistics.median(p.ms for p in traced.passes) / 1000
    v["trace.overhead_pct"] = 100 * tracer.overhead_s / (sum(traced.times()) / 1000)
    v["trace.tracer_ms"] = 1000 * tracer.overhead_s / n_ops
    return {name: (v[name], unit) for name, unit in names()}


def print_layers(metrics: dict[str, tuple[float, str]], tracer) -> None:
    print(f"-- per-layer ({len(tracer.ops)} traced ops, {len(tracer.spans)} spans)")
    for name, (value, unit) in metrics.items():
        if value:
            print(f"   {name:40s} {value:16.4f} {unit}")
