"""Dedupe engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout: the package is imported from
there, and every file the run writes stays under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (spans and the per-layer table
of traced runs). Spark runs ``local[<cores>]``.

``--trace 0`` times each op with tracing off and prints the end-to-end
metrics. ``--trace 1`` runs the same phase traced and prints the
per-layer metrics, including the tracing overhead. The last line of
stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(res, setup_s: float) -> dict:
    """The gated metrics. They are CPU times of all the run's processes:
    on a shared host, other guests' load (CPU steal) moves wall times by
    over half between runs minutes apart; wall times are printed beside."""
    return {
        "pass_cpu_s": (statistics.median(p.cpu_ms for p in res.passes) / 1000, "s"),
        "verb_cpu_geomean_ms": (verb_cpu_geomean_ms(res), "ms"),
        "setup_s": (setup_s, "s"),
    }


def verb_cpu_geomean_ms(res) -> float:
    """Geometric mean, over the verbs (or queries) the pass runs, of each
    one's mean CPU time per call: every verb weighs the same, so halving
    a cheap point verb moves it as much as halving the ingest. Per-verb
    means, not single ops, because the JVM's background threads (JIT, GC)
    charge their CPU to whichever op is running."""
    per_verb: dict[str, list[float]] = {}
    for o in res.ops:
        per_verb.setdefault(o.name, []).append(o.cpu_ms)
    # CPU time comes in clock ticks; a verb under one tick counts as one
    tick_ms = 1000 / os.sysconf("SC_CLK_TCK")
    return statistics.geometric_mean(max(statistics.fmean(v), tick_ms) for v in per_verb.values())


def wall_figures(res, setup_wall_s: float) -> list[tuple]:
    return [
        ("setup_wall_s", setup_wall_s, "s", 1, ""),
        ("pass_wall_s", statistics.median(p.ms for p in res.passes) / 1000, "s",
         len(res.passes), ""),
        ("op_wall_geomean_ms", statistics.geometric_mean(res.times()), "ms", len(res.ops), ""),
    ]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the hypervisor gave to
    other guests shows as steal, and explains an outlier run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def print_table(title: str, rows) -> None:
    print(f"-- {title}")
    for name, value, unit, n, note in rows:
        print(f"   {name:34s} {value:14.4f} {unit:8s} n={n:<5d} {note}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "watsondedupe_spark")):
        print(f"no watsondedupe_spark package under {root}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from procs import cpu_seconds, stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # every JVM of the run, the spark-submit launcher's too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp
    from watsondedupe_spark.session import get_spark

    # a SIGTERM, too, leaves through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_wall_s, setup_s = time.perf_counter() - T_START, cpu_seconds()
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        steal0, total0 = cpu_ticks()
        try:
            res = wl.run(args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.unwrap()
        steal1, total1 = cpu_ticks()
        print(f"-- host cpu steal during the pass: "
              f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
        n = {"setup_s": 1, "pass_cpu_s": len(res.passes), "verb_cpu_geomean_ms": len(res.ops)}
        print_table(f"{args.workload} seed={args.seed} end-to-end, CPU"
                    + (" (traced)" if tracer else ""),
                    [(k, v, u, n[k], "") for k, (v, u) in end_to_end(res, setup_s).items()])
        print_table(f"{args.workload} wall time", wall_figures(res, setup_wall_s)
                    + wl.figures(res))
        if tracer is not None:
            from layers import per_layer, print_layers

            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.dump(base + ".spans.jsonl")
            metrics = per_layer(tracer, res, spark)
            print_layers(metrics, tracer)
            with open(base + ".layers.json", "w") as f:
                json.dump(metrics, f, indent=1, sort_keys=True)
        else:
            metrics = end_to_end(res, setup_s)
        for e in res.errors:
            print("FAILED", e)
        print(json.dumps({
            "correct": not res.errors,
            "attempted": len(res.ops),
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        stop_spark()  # the JVM and its workers, waited for
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
