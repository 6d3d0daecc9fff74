"""Smoke test of the benchmark itself.

Runs every workload at the ``tiny`` input scale, untraced and traced, and
checks that each result line is well formed, that the run was correct, and
that every metric ``BENCHMARK.json`` names is present with its unit.

    python3 perfbench/smoke.py            # all workloads, about 5 minutes
    python3 perfbench/smoke.py ingest     # one workload
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "1", "--trace", str(trace),
                             "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit code {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"{where}: correct={result.get('correct')} failed={result.get('failed')}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"{where}: attempted={result.get('attempted')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errors.append(f"{where}: missing={missing} extra={extra} wrong units={units}")
    for k, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errors.append(f"{where}: {k} value {v.get('value')!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    errors = []
    for workload in names:
        for trace in (0, 1):
            found = check_run(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAIL'}", flush=True)
            errors += found
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
