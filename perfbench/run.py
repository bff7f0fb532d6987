"""One benchmark run of one workload, in a fresh process.

    python3 perfbench/run.py --workload star_olap --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates (or reuses) the
workload's seeded inputs, starts a Spark session sized to the box
(``local[nproc]``) whose warehouse, local and temp dirs all live under a
per-run dir, warms up untimed, then runs a closed loop with one
client for ``--seconds``, checks every output against DuckDB, and prints
one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). A traced run also writes its spans and
per-invocation counters to ``.perfbench/artifacts/``.

Exits 2 without a result when the product is not importable from the
current directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "1/s",
    "driver_mem_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["star_olap", "curation", "ingest_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _hermetic_env(root: Path, run_dir: Path) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python under
    ``run_dir``; return the session conf that completes it."""
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        # executors' Python workers import the product too
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    time.tzset()
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "local"),
        # no hsperfdata under the system /tmp either
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_retained_mb(spark) -> float:
    """Heap plus non-heap the driver JVM still uses after a full GC."""
    jvm = spark.sparkContext._jvm
    gc.collect()  # drops py4j proxies, which unpins their JVM objects
    for _ in range(2):  # the second collects what the first left to cleaners
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None) -> int:
    args = _args(argv)
    root = Path.cwd()
    sys.path.insert(1, str(root))
    try:
        import data_engineering_capstone_project_spark.session  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the product is not importable from {root}: {exc}",
              file=sys.stderr)
        return 2

    base = root / ".perfbench"
    run_dir = base / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _hermetic_env(root, run_dir)

    # Generated in a child process, so this process's peak memory is the
    # product's, whether or not the inputs were cached.
    g0 = time.perf_counter()
    inputs = Path(subprocess.run(
        [sys.executable, str(HERE / "gen.py"), args.workload, str(args.seed),
         str(base / "cache")],
        check=True, capture_output=True, text=True,
    ).stdout.strip())
    gen_s = time.perf_counter() - g0

    from data_engineering_capstone_project_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx, timed_loop

    s0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - s0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, inputs, run_dir, args.seed)
        wl = WORKLOADS[args.workload]()
        w0 = time.perf_counter()
        wl.warm(ctx)
        warm_s = time.perf_counter() - w0
        setup_s = time.perf_counter() - T0 - gen_s

        # A traced run alternates traced and untraced passes, so the
        # tracing overhead is measured on the same workload.
        def on_pass(pass_no):
            tracer.set_enabled(bool(args.trace) and pass_no % 2 == 0)

        wall = timed_loop(
            wl, ctx, args.seconds, on_pass, min_passes=2 if args.trace else 1
        )
        tracer.set_enabled(False)
        mem_mb = _vm_hwm_mb(os.getpid()) + _jvm_retained_mb(spark)
        wl.check(ctx)
        stored = wl.stored_ratio(ctx)
    finally:
        _stop(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    timed = [i for i in tracer.invocations if i["phase"] == "timed" and i["ok"]]
    if args.trace:
        metrics = stats.per_layer(
            tracer, start_s=start_s, warm_s=warm_s, stored_ratio=stored
        )
        out = base / "artifacts"
        out.mkdir(parents=True, exist_ok=True)
        (out / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "metrics": metrics, "layers": stats.layer_totals(tracer),
            "failures": ctx.failures, "spans": tracer.spans,
            "invocations": tracer.invocations,
        }))
        units = stats.PER_LAYER
    else:
        lat = [i["wall_s"] for i in timed]
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": stats.percentile(lat, 50),
            "op_p90_s": stats.percentile(lat, 90),
            "ops_per_s": len(timed) / wall,
            "driver_mem_mb": mem_mb,
        }
        units = END_TO_END
    for f in ctx.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
