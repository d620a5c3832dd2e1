"""tsidx benchmark: one command, one seed, every metric with its unit.

    python3 perfbench/run.py --workload topk_selective --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
(``gen.py``), runs the phases of ``workloads.py`` against tsidx on a
``local[nproc]`` Spark session, checks every result against
``tsidx.oracle.OracleIndex``, and prints two JSON lines:

- a report: host, versions, Spark confs, input shape (vocabulary, Zipf
  exponent, sum of dfs per query), sample counts, and in traced runs the
  per-module stage breakdown;
- last, the result: ``{"correct", "attempted", "failed", "metrics"}`` with
  every end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or every
  per-layer metric (``--trace 1``).

Everything it writes goes to a scratch directory under the working directory,
removed on exit; the Spark JVM and its Python workers are stopped before the
process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the repository root, for tsidx

SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def metric_units() -> tuple[dict, dict]:
    """``(end_to_end, per_layer)``: metric name -> unit, as BENCHMARK.json
    lists them."""
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]}
                 for key in ("end_to_end", "per_layer"))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def spark_confs(cpus: int, workdir: str) -> dict:
    """The session's settings, sized to this host."""
    heap_gb = 2 if _mem_total_gb() >= 8 else 1
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "tsidx-perfbench",
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData",
    }


def start_spark(confs: dict):
    from pyspark.sql import SparkSession

    session = SparkSession.builder
    for k, v in confs.items():
        session = session.config(k, v)
    spark = session.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def host_info(confs: dict) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(_mem_total_gb(), 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_confs": confs,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, help="corpus size, for smoke runs (default: Sizes.turns)")
    args = ap.parse_args(argv)

    import tsidx  # noqa: F401  fail before any work when the engine is absent

    from stagemetrics import PeakRss
    from workloads import PHASES, WORKLOADS, Run, Sizes

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    sizes = Sizes(args.turns) if args.turns else Sizes()
    end_to_end_units, per_layer_units = metric_units()

    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.abspath(os.path.join(".perfbench_work", str(os.getpid())))
    os.makedirs(workdir)
    # Spark, its Python workers and tsidx's package shipping all write temp
    # files; keep them inside the working directory
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no JVM files in /tmp
    import tempfile

    tempfile.tempdir = workdir
    confs = spark_confs(cpus, workdir)
    t_start = time.perf_counter()
    try:
        with PeakRss() as rss:
            spark = start_spark(confs)
            try:
                phase_s = {"spark_start": time.perf_counter() - t_start}
                run = Run(spark, workdir, args.workload, args.seed, args.seconds,
                          bool(args.trace), sizes)
                for name in PHASES + (("module_layers",) if run.traced else ()):
                    t0 = time.perf_counter()
                    getattr(run, name)()
                    phase_s[name] = phase_s.get(name, 0.0) + time.perf_counter() - t0
                rss.poll()
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it

    if args.trace:
        values = run.layers
        units = per_layer_units
    else:
        values = run.end_to_end() | {"peak_rss_mb": rss.peak / 2**20}
        units = end_to_end_units
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.perf_counter() - t_start,
        "phase_s": phase_s,
        "failed_ops_ratio": run.check.failed / max(run.check.attempted, 1),
        "first_failure": run.check.first_failure,
        "host": host_info(confs),
        "index_files": run.layers["index.files_written"],
        "peak_rss_mb_by_role": {k: v / 2**20 for k, v in rss.by_role.items()},
        **run.info,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": run.check.failed == 0,
        "attempted": run.check.attempted,
        "failed": run.check.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
