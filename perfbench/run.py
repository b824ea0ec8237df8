"""Benchmark of the measure engine and the curation operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its corpus under
`.perfbench/` (once per generator version), starts one Spark session on
`local[nproc]`, sets the workload up `setup_repeats` times, warms it up,
then drives it with one client in a closed loop for at least `--seconds`
(to the end of the current round).  Every output is checked against the
DuckDB oracle after the window.  The last line of standard output is one
JSON object: end-to-end metrics with `--trace 0`; with `--trace 1`, the
per-layer metrics of a traced replay of the same operations.  The exit
code is non-zero when any operation failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

SPEC = json.loads((HERE / "spec.json").read_text())
_BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale-factor", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="replace one expected hash with a wrong one, so "
                         "the run must report a failure (self-test)")
    return ap.parse_args(argv)


def _spark():
    from pyspark.sql import SparkSession

    nproc = os.cpu_count() or 1
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every file Spark, its Python workers and the gateway write
    # inside the checkout
    jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({"TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp),
                       "SPARK_LAUNCHER_OPTS": jvm_tmp,
                       "PYSPARK_PYTHON": sys.executable,
                       "PYTHONPATH": os.pathsep.join(filter(None, [
                           str(ROOT), os.environ.get("PYTHONPATH")]))})
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", SPEC["spark"]["driver_memory"])
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{SPEC['spark']['driver_memory']} {jvm_tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_mb(pid) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _pct(values, p: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Sample:
    """One operation of a run: what ran, how long, and what it returned."""

    __slots__ = ("op", "seconds", "output", "error")

    def __init__(self, op, seconds, output, error):
        self.op, self.seconds, self.output, self.error = op, seconds, output, error


def _run_one(wl, ctx, op, run) -> Sample:
    wl.between(ctx)
    t0 = time.perf_counter()
    try:
        out, err = run(op), None
    except Exception as e:  # noqa: BLE001 - a failed op is counted
        out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
    return Sample(op, time.perf_counter() - t0, out, err)


def _window(wl, ctx, rounds, seconds) -> tuple[list, float]:
    """Closed loop, one client: run whole rounds until `seconds` have
    passed."""
    samples = []
    start = time.perf_counter()
    for rnd in rounds:
        samples += [_run_one(wl, ctx, op, lambda o: wl.run(ctx, o))
                    for op in rnd]
        if time.perf_counter() - start >= seconds:
            return samples, time.perf_counter() - start


def _replay(wl, ctx, ops, tracer) -> tuple[list, list, list]:
    """Run each of `ops` twice more, untraced and traced, alternating
    which goes first, so both see the same operations in the same state
    of the JVM.  The traced run records spans around the layers' public
    functions and reads per-operation Spark counters."""
    import yardstick_spark.session as session
    from yardstick_spark.expand import QueryExpander

    spark = getattr(ctx, "spark", ctx)  # a MeasureSession or a SparkSession
    plain, traced, counters = [], [], []

    def run_traced(i, op):
        tracer.op = i
        tracer.patch(QueryExpander, "expand", "expand.rewrite")
        tracer.patch(session, "process_create_view", "ddl.create_view")
        tracer.patch(spark, "sql", "spark.analyze")
        c = {}
        try:
            with tracer.span("op"):
                out, c = wl.run_traced(ctx, op, tracer, f"perfbench-op{i}")
        finally:
            tracer.unpatch()
            counters.append(c)
        return out

    for i, op in enumerate(ops):
        steps = [(plain, lambda o: wl.run(ctx, o)),
                 (traced, lambda o, i=i: run_traced(i, o))]
        for out, run in steps if i % 2 == 0 else steps[::-1]:
            out.append(_run_one(wl, ctx, op, run))
    return plain, traced, counters


def _check(wl, ctx, samples, oracle, corrupt: bool) -> int:
    """Digest every output, compare with the oracle; returns failures."""
    keys = sorted({s.op.key for s in samples if s.error is None})
    try:
        expected = wl.expected(oracle, keys)
    except Exception as e:  # noqa: BLE001 - an oracle error fails its ops
        print(f"oracle error: {type(e).__name__}: {e}", file=sys.stderr)
        expected = {}
    if corrupt:
        checked = [k for k in keys if expected.get(k)]
        expected[checked[0]] = "0" * 64
    failed = 0
    for s in samples:
        if s.error is None and (s.op.key not in expected or wl.digest(
                ctx, s.op, s.output) != expected[s.op.key]):
            s.error = "wrong result"
        s.output = None
        if s.error is not None:
            failed += 1
            print(f"FAILED {s.op.key}: {s.error}", file=sys.stderr)
    return failed


def _data_dir(scale: float) -> Path:
    import datagen

    version = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()
    return datagen.ensure(WORK / "data" / version[:12], scale)


def _phase(name: str, since: float) -> float:
    now = time.perf_counter()
    print(f"phase {name}: {now - since:.2f} s", file=sys.stderr)
    return now


def measure(args) -> tuple[dict, int, int]:
    import __spark_entry__ as entry
    from oracle import Oracle
    from spans import Tracer
    from workloads import WORKLOADS

    spec = dict(SPEC["workloads"][args.workload])
    if args.scale_factor is not None:
        spec["scale_factor"] = args.scale_factor
    wl = WORKLOADS[args.workload](spec, entry)
    t = time.perf_counter()
    sf_dir = _data_dir(wl.scale)
    t = _phase("data", t)
    spark = _spark()
    t = _phase("spark start", t)
    try:
        setups = []
        for _ in range(SPEC["setup_repeats"]):
            t0 = time.perf_counter()
            session = spark.newSession()
            ctx = wl.setup(session, str(sf_dir))
            setups.append(time.perf_counter() - t0)
        t = _phase("setup", t)
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t
        t = _phase("warm-up", t)

        samples, wall = _window(wl, ctx, wl.rounds(args.seed), args.seconds)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss = _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)
        t = _phase("window", t)
        plain, traced, counters = [], [], []
        tracer = Tracer()
        if args.trace:
            plain, traced, counters = _replay(
                wl, ctx, [s.op for s in samples], tracer)
            shapes = wl.plan_shapes(ctx)
            growth = _sql_growth(wl, ctx)
            t = _phase("traced replay", t)
        oracle = Oracle(sf_dir, entry.TABLES)
        try:
            failed = _check(wl, ctx, samples + plain + traced, oracle,
                            args.corrupt_oracle)
        finally:
            oracle.close()
        t = _phase("check", t)
    finally:
        _stop(spark)
    _phase("stop", t)

    attempted = len(samples) + len(plain) + len(traced)
    lat = [s.seconds * 1000.0 for s in samples]
    ddl = [s.seconds * 1000.0 for s in samples if s.op.kind == "ddl"]
    summary = {
        "setup_s": (statistics.median(setups), len(setups)),
        "ops_per_s": (len(samples) / wall, len(samples)),
        "latency_p50_ms": (_pct(lat, 50), len(lat)),
        "latency_p90_ms": (_pct(lat, 90), len(lat)),
        "peak_rss_mb": (rss, 1),
        "failed_frac": (failed / attempted, attempted),
        "ddl_p50_ms": (_pct(ddl, 50) if ddl else 0.0, len(ddl)),
    }
    for name, (value, n) in summary.items():
        unit = END_TO_END.get(name) or PER_LAYER[name]
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    if not args.trace:
        metrics = {k: {"value": summary[k][0], "unit": u}
                   for k, u in END_TO_END.items()}
        return metrics, attempted, failed

    layers = _layers(tracer, traced, counters, _rate(plain), _rate(traced),
                     shapes, growth)
    layers["setup.warmup_s"] = warmup_s
    layers["failed_frac"] = failed / attempted
    layers["ddl_p50_ms"] = summary["ddl_p50_ms"][0]
    trace_dir = WORK / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    tracer.write(trace_dir / f"{stem}.spans.json")
    if shapes:
        (trace_dir / f"{stem}.plans.json").write_text(
            json.dumps(shapes, indent=1, sort_keys=True) + "\n")
        print("PLAN_SHAPES " + json.dumps(shapes, sort_keys=True))
    if set(layers) != set(PER_LAYER):
        raise RuntimeError("per-layer metrics differ from BENCHMARK.json: "
                           f"{sorted(set(layers) ^ set(PER_LAYER))}")
    metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    return metrics, attempted, failed


def _rate(samples) -> float:
    """Operations per second of busy time."""
    return len(samples) / sum(s.seconds for s in samples)


def _sql_growth(wl, ctx) -> float:
    """Rewritten over input characters, summed over the workload's
    distinct measure texts (0 where the workload has none)."""
    texts = list(getattr(wl, "queries", {}).values())
    if not texts:
        return 0.0
    return (sum(len(ctx.rewrite(t)) for t in texts)
            / sum(len(t) for t in texts))


def _layers(tracer, traced, counters, untraced_rate, traced_rate,
            shapes, growth) -> dict:
    n = len(traced)
    self_ms = tracer.self_ms()
    n_ddl = tracer.count("session.ddl")
    ddl_total = sum((e - s) * 1000.0 for name, s, e, _, _ in tracer.spans
                    if name == "session.ddl")

    def per_op(name):
        return self_ms.get(name, 0.0) / n

    def per_ddl(value):
        return value / n_ddl if n_ddl else 0.0

    out = {
        "op.ms": sum(s.seconds for s in traced) * 1000.0 / n,
        "session.sql_ms": per_op("session.sql"),
        "session.ddl_ms": per_ddl(ddl_total),
        "ddl.create_view_ms": per_ddl(self_ms.get("ddl.create_view", 0.0)),
        "expand.rewrite_ms": per_op("expand.rewrite"),
        "expand.spans": tracer.count("expand.rewrite"),
        "expand.sql_growth": growth,
        "spark.analyze_ms": per_op("spark.analyze"),
        "spark.plan_ms": per_op("spark.plan"),
        "exec.ms": per_op("exec") + per_op("llm.exec"),
        "llm.build_ms": per_op("llm.build"),
        "llm.exec_ms": per_op("llm.exec"),
        "trace.untraced_ops_per_s": untraced_rate,
        "trace.traced_ops_per_s": traced_rate,
        "trace.overhead_frac": 1.0 - traced_rate / untraced_rate,
    }
    for key in ("exec.jobs", "exec.stages", "exec.tasks",
                "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.gc_ms",
                "exec.input_bytes", "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes", "exec.driver_wait_ms",
                "llm.build_jobs"):
        out[key] = sum(c.get(key, 0) for c in counters) / n
    for key in ("scans", "exchanges", "joins", "redundant_scans"):
        out[f"plan.{key}"] = sum(s[key] for s in shapes.values())
    return out


def main(argv=None) -> int:
    args = _args(argv)
    try:
        import __spark_entry__  # noqa: F401
        import oracle  # noqa: F401
        import yardstick_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2
    metrics, attempted, failed = measure(args)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
