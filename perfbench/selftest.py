"""Self-test of the benchmark harness at the smallest input sizes.

    python3 perfbench/selftest.py

Runs every workload with ``--tiny`` (sf0.001 tables, small import
fixtures) in both modes and asserts that the result line carries every
metric named in ``BENCHMARK.json`` with its unit, that no operation
failed, and that an unknown workload name fails loudly instead of
producing an empty run. Takes a few minutes; it is not part of the
timed benchmark.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(args: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(BENCH / "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures: list[str] = []
    bad = run(["--workload", "no_such_workload", "--seed", "1", "--seconds", "1"])
    if bad.returncode == 0 or bad.stdout.strip():
        failures.append("unknown workload did not fail loudly")
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run([
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--tiny",
            ])
            tag = f"{w['name']} --trace {trace}"
            if res.returncode != 0:
                failures.append(f"{tag}: exit {res.returncode}: {res.stderr[-2000:]}")
                continue
            out = json.loads(res.stdout.strip().splitlines()[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                failures.append(f"{tag}: correct={out['correct']} failed={out['failed']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in out["metrics"].items()}
            if got != want:
                failures.append(f"{tag}: metrics {got} != {want}")
            for name, v in out["metrics"].items():
                if not isinstance(v.get("value"), (int, float)):
                    failures.append(f"{tag}: {name} is not a number")
            print(f"ok {tag}", flush=True)
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
