"""Per-query execution-layer probe.

Runs one or more inventory queries on a bench-identical session and
reports, per timed repetition, the plan-build and execution wall time,
the physical plan shape, and the Spark jobs, stages, tasks, executor
time and bytes of the build and execution phases.  The counters come
from `perfbench/sparkmetrics.py` (job groups + the application status
store), so the session runs with the Spark UI off.  Optionally writes
.explain("formatted") for each probed query.

Usage: python tools/probe_stages.py q1,q2,... [--reps N] [--plans-dir DIR]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
# the Python workers import the package too: give them the checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


def _line(rec: dict) -> str:
    return (f"jobs={rec['jobs']:3d} stages={rec['stages']:3d} "
            f"tasks={rec['tasks']:4d} "
            f"execRun={rec['executor_run_ms'] / 1000:7.2f}s "
            f"cpu={rec['executor_cpu_ms'] / 1000:7.2f}s "
            f"gc={rec['gc_ms'] / 1000:5.2f}s "
            f"in={rec['input_bytes'] >> 20}MB "
            f"sh_r={rec['shuffle_read_bytes'] >> 10}KB "
            f"sh_w={rec['shuffle_write_bytes'] >> 10}KB "
            f"driver_wait={rec['driver_wait_ms'] / 1000:6.3f}s")


def main() -> None:
    names = [s for s in sys.argv[1].split(",") if s]
    reps = 3
    plans_dir = None
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    if "--plans-dir" in sys.argv:
        plans_dir = Path(sys.argv[sys.argv.index("--plans-dir") + 1])
        plans_dir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from perfbench.sparkmetrics import job_group, plan_shape, read_group

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ys_wh_"))
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    qs = entry.queries()
    entry._ys(spark, sf_dir)
    spark.table("lineitem").count()
    for warm in ("m_grand_total", "tpch_q6"):
        try:
            qs[warm](spark, sf_dir).count()
        except Exception:  # noqa: BLE001
            pass

    def _clear() -> None:
        spark.catalog.clearCache()
        try:
            from yardstick_spark.llm import clear_dedup_caches

            clear_dedup_caches()
        except Exception:  # noqa: BLE001
            pass

    for name in names:
        fn = qs[name]
        # warm rep (uncounted) then timed reps
        for rep in range(reps + 1):
            _clear()
            try:
                sc._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
            group = f"probe.{name}.{rep}"
            with job_group(sc, group + ".build"):
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
            with job_group(sc, group):
                df.count()
                t2 = time.time()
            print(f"\n=== {name} rep{rep}: total {t2 - t0:.3f}s "
                  f"(plan-build+eager {t1 - t0:.3f}s)")
            if rep == 0:
                if plans_dir is not None:
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted")
                    (plans_dir / f"{name}.txt").write_text(plan)
                continue
            shape = plan_shape(df)
            print("  plan  " + " ".join(f"{k}={v}" for k, v in shape.items()))
            print("  build " + _line(read_group(
                sc, group + ".build", t0 * 1000.0, t1 * 1000.0)))
            print("  exec  " + _line(read_group(
                sc, group, t1 * 1000.0, t2 * 1000.0)))


if __name__ == "__main__":
    main()
