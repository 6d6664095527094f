"""Smoke test of the benchmark at tiny row counts.

    python3 perfbench/smoke.py

Runs every workload timed and traced with ``--tiny`` and asserts that
each run exits 0, that every op's output check passed, that the result
line carries exactly the metrics BENCHMARK.json names with their units,
and that every other metric the README lists is printed with its unit.
Takes a few minutes; the numbers it sees are not measurements.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# printed as text lines only (README.md says why)
TEXT_ONLY = {
    "pcm_tel": {"run_s": "s", "clips_per_s": "clips/s", "resume_noop_s": "s",
                "revalidate_s": "s", "group_commit_s": "s", "error_rate": "ratio"},
    "rules_dense": {"run_s": "s", "clips_per_s": "clips/s", "error_rate": "ratio"},
}


def run(workload: str, trace: int) -> tuple[dict, dict[str, str]]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    printed = {m.group(1): m.group(2) for m in
               (re.match(r"metric (\S+) \S+ (\S+)", ln) for ln in lines) if m}
    return json.loads(lines[-1]), printed


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, printed = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w} trace={trace}: result metrics {got} != {want}"
            assert result["correct"] and result["failed"] == 0, f"{w} trace={trace}: {result}"
            assert result["attempted"] >= 1
            text = {**want, **TEXT_ONLY[w]} if trace == 0 else want
            for name, unit in text.items():
                assert printed.get(name) == unit, f"{w} trace={trace}: {name} [{unit}] not printed"
            print(f"ok {w} trace={trace}: {len(got)} metrics, {result['attempted']} ops")
    return 0


if __name__ == "__main__":
    sys.exit(main())
