"""The repository benchmark: one command, seeded workloads, one JSON line.

Usage, from the repository root::

    python3 perfbench/run.py --workload mv_maintain --seed 1 --seconds 5 --trace 0

Workloads (each one closed-loop client in this process, against a
``local[nproc]`` Spark session):

- ``mv_maintain``: INSERT / DELETE / REFRESH / SELECT cycles over the MySQL
  wire server (``perfbench/mv_maintain.py``);
- ``sketch_waves``: waves through the sketch and dedup maintainers
  (``perfbench/sketch_waves.py``).

``--trace 0`` measures and prints the end-to-end metrics.  ``--trace 1``
runs the same loop with every layer boundary wrapped (``perfbench/trace.py``)
and prints the per-layer metrics instead; its spans are written to
``.perfbench_out/``.  Both print, before the result, one ``detail`` line
with the sample counts, error rate and session sizing.
The last line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The benchmark reads and writes only inside the checkout it runs from; it
needs the ``incresql_spark`` package there and exits with code 2 without a
result when it is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("mv_maintain", "sketch_waves")
#: seconds after start past which a run takes no unit beyond its first;
#: runs must exit within 180 s and a slow machine doubles a run's length
DEADLINE_S = 110


def _session_env(work: Path) -> dict[str, str]:
    """Size the Spark session to this machine and keep all scratch files
    inside the checkout.  ``incresql_spark.session`` reads the two
    ``SPARK_GRAFT_*`` variables."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # well below physical RAM: the session's default heap (48g) is
        # larger than small machines have
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # job accounting reads every job of the run from the status store
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.retainedJobs=1000000 "
                               "--conf spark.ui.retainedStages=1000000 pyspark-shell",
    }
    os.environ.update(env)
    return env


def end_to_end(out) -> tuple[dict, dict]:
    metrics, detail = {}, {}

    def put(name: str, value: float, unit: str) -> None:
        metrics[name] = {"value": value, "unit": unit}

    put("setup_s", out.setup_s, "s")
    for phase in ("write", "fresh", "read", "cycle"):
        xs = [x * 1000 for x in out.phases[phase]]
        put(f"{phase}_p50_ms", statistics.median(xs), "ms")
        detail[f"{phase}_n"] = len(xs)
    put("delta_rows_per_s", out.rows_changed / out.loop_s, "1/s")
    put("disk_mb", out.disk_bytes / 1e6, "MB")
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "incresql_spark" / "__init__.py").is_file():
        print(f"incresql_spark is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = _session_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        from incresql_spark.session import get_spark

        from perfbench.trace import NullTracer, Tracer

        workload = importlib.import_module(f"perfbench.{args.workload}")
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        out = workload.run(spark, tracer, str(work), args.seed, args.seconds,
                           t0 + DEADLINE_S)

        metrics, detail = end_to_end(out)
        if args.trace:
            cycles = len(out.phases["cycle"])
            metrics = {
                name: {"value": v, "unit": _unit(name)}
                for name, v in tracer.per_layer(
                    cycles, [x * 1000 for x in out.phases["cycle"]],
                    out.segments, out.loop_s).items()
            }
            trace_path = (ROOT / ".perfbench_out"
                          / f"trace-{args.workload}-{args.seed}.json")
            tracer.write(str(trace_path))
            detail["trace_file"] = str(trace_path.relative_to(ROOT))
        detail.update(
            workload=args.workload, seed=args.seed,
            cpus=int(env["SPARK_GRAFT_CPUS"]),
            driver_mem=env["SPARK_GRAFT_DRIVER_MEM"],
            default_parallelism=spark.sparkContext.defaultParallelism,
            session_start_s=round(session_s, 3),
            setup_s=round(out.setup_s, 3),
            loop_s=round(out.loop_s, 3),
            error_rate=out.failed / out.attempted if out.attempted else 0.0,
            segments=out.segments, **out.notes,
        )
        print(json.dumps({"detail": detail}), flush=True)
        print(json.dumps({
            "correct": bool(out.correct),
            "attempted": int(out.attempted),
            "failed": int(out.failed),
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("ratio") or "per_" in name:
        return "ratio"
    return "count"


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
