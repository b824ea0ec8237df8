"""Self-test of the benchmark.

A short sf0.001 run of every workload, untraced and traced, must pass
the oracle and emit exactly the metrics BENCHMARK.json names, each with
its unit.  A run whose expected hash is deliberately wrong must report
the failure and exit non-zero, which proves the checker can fail.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--scale-factor", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd}: no output\n{p.stderr[-2000:]}")
    return p.returncode, json.loads(lines[-1])


def _check_metrics(res: dict, wanted: dict, what: str) -> None:
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != wanted:
        raise AssertionError(f"{what}: metrics/units {got} != {wanted}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            raise AssertionError(f"{what}: {k} = {v['value']!r}")


def main() -> int:
    sys.path.insert(0, str(HERE))
    import datagen

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((HERE / "spec.json").read_text())
    for sf, rows in spec["data"]["rows"].items():
        for table, n in rows.items():
            if datagen.rows(table, float(sf[2:])) != n:
                raise AssertionError(f"{sf}/{table}: spec says {n} rows")
    modes = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (w["name"] for w in bench["workloads"]):
        for trace, wanted in modes.items():
            what = f"{w} --trace {trace}"
            rc, res = _run(w, trace)
            if rc != 0 or not res["correct"] or res["failed"]:
                raise AssertionError(f"{what}: exit {rc}, {res}")
            _check_metrics(res, wanted, what)
            if trace and w == "curation" and res["metrics"]["expand.spans"]["value"]:
                raise AssertionError("curation recorded expand.* spans")
            print(f"ok {what}: {res['attempted']} operations")
    rc, res = _run("measure_scan", 0, "--corrupt-oracle")
    if rc == 0 or res["correct"] or res["failed"] < 1:
        raise AssertionError(f"a wrong expected hash went unreported: {res}")
    print(f"ok wrong expected hash: {res['failed']} failed, exit {rc}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
