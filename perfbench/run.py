"""tagminder_spark benchmark: one workload, one client, closed loop.

Run from the repository root::

    python3 perfbench/run.py --workload library_ingest_commit --seed 1 \\
        --seconds 10 --trace 0

The run starts a ``local[4]`` Spark session, makes the workload's inputs
from ``--seed``, warms up (session start plus warm-up jobs give
``setup_s``), then runs the job back to back for about ``--seconds``
seconds (at least the workload's ``min_iters`` jobs), checking every
result.  The last line of standard output is one JSON object::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``wall_s``,
``rows_per_s``, ``setup_s``); with ``--trace 1`` half the time runs
untraced and half traced (one span per layer call, see
``perfbench/spans.py``), and the metrics are the per-layer ones plus
``traced.overhead_s``.  ``failed / attempted`` is the failed-run ratio.
The line before it holds the host qualifier (cores, load averages, the
calibration probe of ``bench.py``); the spans go to standard error.

Everything the run writes lives under ``.perfbench-scratch/<pid>`` in the
working directory and is deleted before the result is printed; bytes
left behind fail the run.  ``--sf`` scales the inputs (sf 0.1 is the
size of the repository's largest test data); the tests use a small one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

CORES = 4
DRIVER_MEM = "3g"
#: Per workload: default input scale, warm-up jobs before timing, and the
#: fewest timed jobs a run makes.  Both jobs settle only after two warm-up
#: passes; sized so that one run, set-up included, takes about a minute on
#: 4 cores.
PLAN = {
    "library_ingest_commit": {"sf": 0.005, "warmup": 2, "min_iters": 2},
    "contributor_resolution": {"sf": 0.01, "warmup": 2, "min_iters": 2},
}

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    from perfbench.spans import LAYER_FIELDS, LAYERS

    out = {f"{layer}.{f}": u for layer in LAYERS
           for f, u in LAYER_FIELDS.items()}
    out.update({
        "sources.catalog.files_per_s": "1/s",
        "operators.table_manifest.files_rewritten": "count",
        "operators.table_manifest.rewrite_selectivity": "ratio",
        "operators.table_manifest.bytes_written": "bytes",
        "operators.table_manifest.write_amp": "ratio",
        "operators.table_manifest.space_amp": "ratio",
        "operators.diff_audit.changed_ratio": "ratio",
        "operators.components.jobs": "count",
        "session.start_s": "s",
        "session.warmup_s": "s",
        "session.peak_rss_mb": "MB",
        "traced.overhead_s": "s",
    })
    return out


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale (default: the workload's own)")
    return ap.parse_args(argv)


def prepare_env(root: Path, scratch: Path) -> None:
    """Point Spark, its Python workers and every temp dir at ``scratch``."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True)
    env = os.environ
    # Python workers import tagminder_spark from the checkout, whatever
    # the working directory of the worker process is
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={scratch / 'warehouse'} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Loop:
    """Closed-loop runner: the next job starts when the previous one has
    been checked and reset."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0

    def once(self, tracer) -> float:
        """One job: run (timed), check, reset; returns the job's wall time."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.wl.run(tracer)
        except Exception:
            result = None
            errors = [traceback.format_exc()]
        wall = time.perf_counter() - t0
        try:
            if result is not None:
                errors = self.wl.check(result)
        except Exception:
            errors = [traceback.format_exc()]
        finally:
            self.wl.reset()
        if errors:
            self.failed += 1
            print(f"perfbench: {self.wl.name} run failed: {errors[0]}",
                  file=sys.stderr)
        return wall

    def repeat(self, tracer, seconds: float, min_iters: int) -> list[float]:
        """Run until the next job would end past ``seconds`` (at least
        ``min_iters`` jobs); returns the wall time of each."""
        walls: list[float] = []
        t0 = time.perf_counter()
        while len(walls) < min_iters or (
            time.perf_counter() - t0 + statistics.median(walls) <= seconds
        ):
            if tracer.enabled:
                tracer.iteration = len(walls)
            walls.append(self.once(tracer))
        return walls


def run_benchmark(name: str, seed: int, seconds: float, trace: bool,
                  sf: float, scratch: Path) -> dict:
    """One benchmark run inside an already prepared environment."""
    from bench import _calibrate
    from perfbench import spans as sp
    from perfbench.workloads import WORKLOADS

    host = {"nproc": os.cpu_count(), "cores_used": CORES, "sf": sf,
            "loadavg_before": os.getloadavg(), "calibration": _calibrate()}
    phases = host["phase_s"] = {}

    t0 = time.perf_counter()
    from tagminder_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[name](spark, str(scratch / "work"), seed, sf)
        t1 = time.perf_counter()
        wl.setup()
        phases["inputs"] = time.perf_counter() - t1
        loop = Loop(wl)
        null = sp.NullTracer()
        tracer = sp.Tracer(spark) if trace else None

        if tracer is not None:
            tracer.iteration = -1
            with tracer.span("session"):
                warm = [loop.once(null) for _ in range(PLAN[name]["warmup"])]
        else:
            warm = [loop.once(null) for _ in range(PLAN[name]["warmup"])]
        warmup_s = sum(warm)
        t1 = time.perf_counter()

        if tracer is None:
            walls = loop.repeat(null, seconds, PLAN[name]["min_iters"])
            wall = statistics.median(walls)
            metrics = {
                "wall_s": wall,
                "rows_per_s": wl.input_rows / wall,
                "setup_s": start_s + warmup_s,
            }
            units = END_TO_END
        else:
            walls = loop.repeat(null, seconds / 2, 1)
            traced = loop.repeat(tracer, seconds / 2, 1)
            metrics = traced_metrics(tracer.spans, wl, start_s, warmup_s)
            metrics["session.peak_rss_mb"] = _peak_rss_mb(spark)
            metrics["traced.overhead_s"] = (
                statistics.median(traced) - statistics.median(walls)
            )
            units = per_layer_units()
            print(json.dumps({"spans": [s.as_dict() for s in tracer.spans]}),
                  file=sys.stderr)
        phases["measure"] = time.perf_counter() - t1
        host.update(
            workload=name, seed=seed, input_rows=wl.input_rows,
            warmup_walls=warm, walls=walls, peak_rss_mb=_peak_rss_mb(spark),
        )
    finally:
        t1 = time.perf_counter()
        stop_session(spark)
        phases["stop"] = time.perf_counter() - t1
    host["loadavg_after"] = os.getloadavg()
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
        "host": host,
    }


def traced_metrics(spans, wl, start_s: float, warmup_s: float) -> dict:
    from perfbench import spans as sp

    m = sp.layer_metrics(spans, CORES)
    # the session span covers the warm-up jobs (their checks included);
    # its self time is the set-up time the untraced runs report
    m["session.self_s"] = start_s + warmup_s
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s

    def extra(layer, key):
        return sp.per_iteration(
            spans, layer, lambda ss: sum(s.extra.get(key, 0) for s in ss))

    m["sources.catalog.files_per_s"] = sp.per_iteration(
        spans, "sources.catalog",
        lambda ss: sum(s.extra["files"] for s in ss)
        / sum(s.wall_s for s in ss),
    )
    tm = "operators.table_manifest"
    m[f"{tm}.files_rewritten"] = extra(tm, "files_rewritten")
    m[f"{tm}.rewrite_selectivity"] = sp.per_iteration(
        spans, tm, lambda ss: sum(s.extra.get("files_rewritten", 0) for s in ss)
        / max(1, sum(s.extra.get("files_carried", 0) for s in ss)),
    )
    m[f"{tm}.bytes_written"] = extra(tm, "bytes_written")
    base = getattr(wl, "batch_parquet_bytes", 0)
    m[f"{tm}.write_amp"] = m[f"{tm}.bytes_written"] / base if base else 0.0
    m[f"{tm}.space_amp"] = extra(tm, "space_amp")
    m["operators.diff_audit.changed_ratio"] = extra(
        "operators.diff_audit", "changed_ratio")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = Path.cwd().resolve()
    missing = [p for p in ("tagminder_spark/__init__.py", "bench.py")
               if not (root / p).is_file()]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    scratch_root = root / ".perfbench-scratch"
    scratch = scratch_root / str(os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    prepare_env(root, scratch)
    sf = args.sf if args.sf is not None else PLAN[args.workload]["sf"]
    try:
        out = run_benchmark(args.workload, args.seed, args.seconds,
                            bool(args.trace), sf, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch_root.rmdir()
        except OSError:
            pass  # another run's scratch dir is still there
    from perfbench.workloads import tree_bytes

    left = tree_bytes(str(scratch))[0]
    out["host"]["scratch_left_bytes"] = left
    if left:
        out["correct"] = False
        print(f"perfbench: {left} bytes left under {scratch}", file=sys.stderr)
    print(json.dumps({"host": out.pop("host")}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
