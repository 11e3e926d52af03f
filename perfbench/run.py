"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process starts Spark on
``local[<cores>]``, sets up the workload (session, ``register_xlsx``, seeded
input generation, loading) three times and reports the median as
``setup_s``, warms up, then runs operations for ``--seconds`` (and at least
the workload's minimum count), checking every output.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` - the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it records the environment.
Spans and the environment are also written to ``perfbench/results/``.

``--negative-check`` instead corrupts one output of the workload and exits
0 only if the correctness check catches it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# a traced run starts no layer probe after this many seconds: the corpus
# probe takes up to ~55 s and a run must end within 180 s
PROBE_DEADLINE_S = 100

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "python_peak_rss_mb": "MB",
}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str, nproc: int) -> None:
    """Everything Spark, the JVM and Python write goes under ``work``;
    timestamps are UTC on every side of the Py4J/Arrow boundary."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # the package default (32g) is sized for a large host; local mode runs
    # executors inside the driver JVM, which needs far less here
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["TZ"] = "UTC"
    time.tzset()


def _spark_confs(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Duser.timezone=UTC"
            " -XX:-UsePerfData"
        ),
    }


def _fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, fstype = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def _environment(args, wl, nproc: int, work: str) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    cpu = "?"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    return {
        "workload": wl.name,
        **wl.describe(),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "cpu": cpu,
        "scratch_medium": _fs_type(work),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
    }


def _shutdown(spark, root_pid: int) -> None:
    """Stop Spark, its JVM and every process they started, and wait for
    each to end."""
    from pyspark import SparkContext

    from probes import process_tree

    before = set(process_tree(root_pid)) - {root_pid}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in before if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")  # a zombie has ended; only its entry remains


def _setup(wl, work: str, tr_layers: dict) -> tuple[object, list[float]]:
    """Set the workload up SETUP_REPS times (the first rep also launches
    the JVM); returns the live session and every rep's seconds."""
    from excelstream_spark import get_spark, register_xlsx

    confs = _spark_confs(work)
    spark, reps = None, []
    for r in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}", **confs)
        register_xlsx(spark)
        t1 = time.perf_counter()
        wl.generate()
        t2 = time.perf_counter()
        wl.load(spark)
        t3 = time.perf_counter()
        reps.append(t3 - t0)
        for key, v in (("session.get_spark_s", t1 - t0), ("bench.generate_s", t2 - t1),
                       ("tables.load_s", t3 - t2)):
            tr_layers.setdefault(key, []).append(v)
        _log(f"setup rep {r}: {t3 - t0:.3f}s (session {t1 - t0:.3f}, "
             f"generate {t2 - t1:.3f}, load {t3 - t2:.3f})")
    return spark, reps


def _measure(wl, spark, tr, rest, seconds: float, min_ops: int, quantum: int,
             max_ops: int) -> dict:
    """Operations 0, 1, ... until ``seconds`` have passed and at least
    ``min_ops`` ran, stopping only after a whole number of ``quantum`` and
    at ``max_ops``; returns per-operation samples."""
    from probes import ProcSampler, process_tree, tree_cpu_s

    me = os.getpid()
    walls, cpus, rows, engine = [], [], [], []
    failed = 0
    i = 0
    with ProcSampler(me) as sampler:
        deadline = time.monotonic() + seconds
        while len(walls) < max_ops and (
            len(walls) < min_ops
            or time.monotonic() < deadline
            or len(walls) % quantum
        ):
            tr.op = f"op{i}"
            c0 = tree_cpu_s(process_tree(me))
            t0 = time.perf_counter()
            try:
                with tr.span("op"):
                    result = wl.run(spark, i, tr)
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s(process_tree(me)) - c0
                n, ok = wl.check(i, result)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                wall, cpu, n, ok = time.perf_counter() - t0, 0.0, 0, False
            wl.cleanup(spark)
            if not ok:
                failed += 1
                _log(f"op {i}: FAILED check")
            _log(f"op {i}: {wall * 1e3:.1f} ms, cpu {cpu:.2f} s, rows {n}")
            walls.append(wall)
            cpus.append(cpu)
            rows.append(n)
            if tr.enabled and rest is not None:
                engine.append(rest.op_metrics(tr.op))
            i += 1
        peak = sampler.peak_rss
    return {"walls": walls, "cpus": cpus, "rows": rows, "failed": failed,
            "peak_rss": peak, "engine": engine}


def _end_to_end(sample: dict, setup_s: float) -> dict[str, float]:
    ok_walls = sum(w for w, n in zip(sample["walls"], sample["rows"]) if n)
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(sample["walls"]) * 1e3,
        "rows_per_s": sum(sample["rows"]) / ok_walls if ok_walls else 0.0,
        "cpu_s": statistics.median(sample["cpus"]),
        "python_peak_rss_mb": sample["peak_rss"] / 2**20,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative-check", action="store_true")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import excelstream_spark  # noqa: F401  (the program under test)
        from excelstream_spark.sources import http as _http  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the package from {ROOT}: {e}")
        return 2
    from probes import SparkRest, Tracer, mean_dict
    from workloads import WORKLOADS, layer_probes

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    _prepare_env(work, nproc)
    wl = WORKLOADS[args.workload](args.seed, work, nproc)
    env = _environment(args, wl, nproc, work)
    t_run = time.perf_counter()
    spark = None
    layers: dict[str, list[float]] = {}
    try:
        spark, reps = _setup(wl, work, layers)
        setup_s = statistics.median(reps)
        wl.prepare(spark)
        t0 = time.perf_counter()
        wl.warmup(spark)
        wl.cleanup(spark)
        _log(f"warmup {time.perf_counter() - t0:.3f}s")
        if args.negative_check:
            caught = wl.negative_check(spark)
            _log(f"negative check on {wl.name}: {'caught' if caught else 'NOT caught'}")
            return 0 if caught else 1
        off = Tracer(False)
        if not args.trace:
            sample = _measure(wl, spark, off, None, args.seconds, wl.min_ops, wl.op_quantum,
                              wl.max_ops)
            metrics = _end_to_end(sample, setup_s)
            units = END_TO_END
            samples = [sample]
            spans = []
        else:
            # half the time untraced (in halves of the untraced run's
            # quantum: one request block), then the same operations traced:
            # the gap is the overhead
            plain = _measure(wl, spark, off, None, args.seconds / 2, max(1, wl.min_ops // 2),
                             max(1, wl.op_quantum // 2), wl.max_ops)
            tr = Tracer(True, spark.sparkContext)
            rest = SparkRest(spark.sparkContext.uiWebUrl)
            n = len(plain["walls"])
            traced = _measure(wl, spark, tr, rest, 0, n, 1, n)
            probe = layer_probes(spark, tr, rest, wl, _T0 + PROBE_DEADLINE_S)
            metrics = _layer_defaults()
            metrics.update({k: statistics.median(v) for k, v in layers.items()})
            metrics.update(mean_dict(traced["engine"]))
            for name in {s["name"] for s in tr.spans}:
                if name.startswith(("plans.", "sources.xlsx.datasource.")):
                    metrics[f"{name}_s"] = statistics.median(tr.durations(name))
            metrics.update(probe)
            e_plain = _end_to_end(plain, setup_s)
            e_traced = _end_to_end(traced, setup_s)
            for k in END_TO_END:
                if k != "setup_s" and e_plain[k] and e_traced[k]:
                    # positive = tracing made the metric worse
                    ratio = e_traced[k] / e_plain[k]
                    metrics[f"trace.overhead.{k}"] = (1 / ratio if k == "rows_per_s" else ratio) - 1
            metrics = {k: v for k, v in metrics.items() if k in _layer_units()}
            units = _layer_units()
            samples = [plain, traced]
            spans = tr.with_self_time()
        attempted = sum(len(s["walls"]) for s in samples)
        failed = sum(s["failed"] for s in samples)
    finally:
        if spark is not None:
            _shutdown(spark, os.getpid())
        shutil.rmtree(work, ignore_errors=True)
    env["run_wall_s"] = time.perf_counter() - t_run
    with open(os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"env": env, "samples": samples, "spans": spans}, f, default=str)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }))
    return 0


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _layer_defaults() -> dict[str, float]:
    """Every per-layer metric is reported on every workload; one the run
    could not form (an overhead whose untraced value is 0) reads 0."""
    return {k: 0.0 for k in _layer_units()}


if __name__ == "__main__":
    sys.exit(main())
