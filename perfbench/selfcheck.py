"""Tiny-size self-check of the benchmark (about 2 minutes per workload).

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json once untraced and once traced with
``--tiny`` (1 MB corpus, sf0.001 tables) and fails unless each run exits 0,
its last line reports ``correct: true`` and no failed job, and it emits
exactly the metrics BENCHMARK.json names, each with its unit, with
``wrong_outputs`` at 0 in the traced run.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def check_run(workload: str, trace: int, expected: dict[str, str]) -> list[str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    label = f"{workload} --trace {trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{label}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0:
        problems.append(f"{label}: correct={result.get('correct')} failed={result.get('failed')}")
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != expected:
        missing = sorted(set(expected) - set(got))
        extra = sorted(set(got) - set(expected))
        wrong_unit = sorted(k for k in set(got) & set(expected) if got[k] != expected[k])
        problems.append(f"{label}: missing {missing} extra {extra} unit {wrong_unit}")
    if trace and result["metrics"].get("wrong_outputs", {}).get("value") != 0:
        problems.append(f"{label}: wrong_outputs {result['metrics'].get('wrong_outputs')}")
    print(f"{label}: {'ok' if not problems else 'FAILED'}", flush=True)
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            expected = {m["name"]: m["unit"] for m in spec[key]}
            problems += check_run(w["name"], trace, expected)
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
