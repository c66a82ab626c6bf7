"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload builds its own ``local[N]``
Spark session (N = min(the workload's ``cpus``, nproc)), sets itself up,
warms up untimed, runs a single-client closed loop for ``--seconds``
seconds, checks every result against numpy, and prints one human-readable
line per metric followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the spans go to ``.perfbench_work/spans/``.
Scratch files live under ``.perfbench_work/`` and are removed on exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json
import os
import shutil
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFAULT_SEED = 1
HELD_OUT_SEED = 7919  # keep for confirming a claimed gain; never tune on it
SETUP_REPS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "bulk_scan", "ingest_mix", "curate"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    return ap.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under ``work``;
    let the workers import the library from this checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the session size is this benchmark's choice, never an inherited one
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    sys.path.insert(0, str(ROOT))
    os.chdir(work)  # Spark's warehouse and metastore defaults are cwd-relative


def _host_ticks() -> list[int]:
    """The machine-wide CPU tick counters from ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _tail(xs):
    """(percentile, value): highest percentile with at least ten samples
    beyond it, or None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args, work: Path) -> tuple[dict, list[str]]:
    import numpy
    import pyarrow
    import pyspark

    from perfbench.metrics import END_TO_END, EXTRA_LAYER, PER_LAYER, SETUP_CALLS
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    cpus = min(wl_cls.cpus, _nproc())
    lines = [
        f"workload {args.workload} seed {args.seed} scale {args.scale} seconds {args.seconds}"
        f" trace {args.trace} local[{cpus}] nproc {_nproc()}",
        f"versions spark {pyspark.__version__} pyarrow {pyarrow.__version__} numpy {numpy.__version__}",
        f"loadavg_1m_before {os.getloadavg()[0]:.2f}",
    ]

    t = time.perf_counter()
    from faiss_metal_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        floor = []  # the scheduler floor: 1-task no-op jobs (traced runs only)
        for _ in range(5 if args.trace else 0):
            t = time.perf_counter()
            spark.range(0, 1, 1, 1).count()
            floor.append((time.perf_counter() - t) * 1e3)

        tracer = Tracer(spark, bool(args.trace), f"{args.workload}-{args.seed}")
        wl = wl_cls(spark, tracer, work, args.seed, args.scale)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        reps = []
        for r in range(SETUP_REPS):
            if r:
                wl.teardown()
            t = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(reps)
        t = time.perf_counter()
        for _ in range(wl.warm_steps):
            wl.warm()
        warm_for = wl.warm_s if args.scale == "full" else 0.0
        while time.perf_counter() - t < warm_for:
            wl.warm()
        warm_s = time.perf_counter() - t

        host0 = _host_ticks()
        t_end = time.perf_counter() + args.seconds
        i = 0
        rates = []  # work units per second of call time, one per step
        while True:
            # a traced run alternates traced and untraced steps so that it
            # can measure its own overhead
            items, busy = wl.items, wl.busy_s
            wl.step(record=True, traced=bool(args.trace) and i % 2 == 0)
            if wl.busy_s > busy:
                rates.append((wl.items - items) / (wl.busy_s - busy))
            i += 1
            if time.perf_counter() >= t_end:
                break
        loop_s = time.perf_counter() - t_end + args.seconds
        host = [b - a for a, b in zip(host0, _host_ticks())]
        lines.append(f"host_cpu_during_loop busy {sum(host[:3] + host[5:7]) / sum(host):.3f}"
                     f" idle {sum(host[3:5]) / sum(host):.3f} steal {host[7] / sum(host):.3f}")
        wl.finish()
        wl.teardown()
    finally:
        lines.append(f"loadavg_1m_after {os.getloadavg()[0]:.2f}")
        t = time.perf_counter()
        _stop(spark)
        lines.append(f"stop_s {time.perf_counter() - t:.3f}")

    for label, calls in (("primary", wl.primary), ("aux", wl.aux)):
        xs = [c.wall_ms for c in calls]
        tail = _tail(xs)
        lines.append(
            f"{label} samples {len(xs)}"
            + (f" tail p{tail[0]:.1f} {tail[1]:.2f} ms" if tail else " tail n/a (under 11 samples)")
            + f" ms: {' '.join(f'{x:.1f}' for x in xs)}"
        )
    lines.append(f"setup reps_s {' '.join(f'{x:.3f}' for x in reps)} session_s {session_s:.3f}"
                 f" prepare_s {prepare_s:.3f} warm_s {warm_s:.3f} loop_s {loop_s:.3f}"
                 f" process_s {time.perf_counter() - T0:.3f}")
    lines.append(f"error_rate {wl.failed / max(wl.attempted, 1):.6f} ratio")

    if not args.trace:
        values = {"setup_s": setup_s, **wl.metrics(),
                  "items_per_s": statistics.median(rates) if rates else 0.0}
        spec = END_TO_END
    else:
        layer = wl.layer_metrics()
        layer["session.start_s"] = session_s
        layer["session.floor_ms"] = statistics.median(floor)
        by_name: dict[str, list] = {}
        for c in wl.setup_calls:
            by_name.setdefault(c.name, []).append(c.wall_ms)
        for name, metric in SETUP_CALLS.items():
            if name in by_name:
                layer[metric] = statistics.median(by_name[name])
        # a layer the workload never calls did no work: it reads 0
        values = {n: layer.get(n, 0.0) for n, _ in PER_LAYER}
        lines += [f"{n} {layer[n]:.6g} {u}" for n, u in EXTRA_LAYER if n in layer]
        traced = [c.wall_ms for c in wl.primary if c.traced]
        untraced = [c.wall_ms for c in wl.primary if not c.traced]
        if traced and untraced:
            values["trace.overhead_ms"] = statistics.median(traced) - statistics.median(untraced)
        values["trace.spans"] = len(tracer.spans)
        spans = ROOT / ".perfbench_work" / "spans" / f"{args.workload}-seed{args.seed}.json"
        tracer.write(spans)
        lines.append(f"spans {spans.relative_to(ROOT)}")
        spec = PER_LAYER
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in spec}
    lines += [f"{n} {m['value']:.6g} {m['unit']}" for n, m in metrics.items()]
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "faiss_metal_spark" / "__init__.py").is_file():
        print(f"perfbench: no faiss_metal_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cwd = os.getcwd()
    try:
        _isolate(work)
        result, lines = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
