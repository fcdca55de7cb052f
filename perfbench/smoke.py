"""Smoke test of the benchmark; takes about ten minutes.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it makes three short runs:

- untraced: exit 0, correct, and exactly the ``end_to_end`` metrics with
  their units, every value above 0;
- traced: exit 0, correct, and exactly the ``per_layer`` metrics with
  their units;
- ``--corrupt``: the lake is damaged after measuring, so the run must
  exit 1 and report ``correct: false``.

Last, the benchmark copied without the engine package must exit with a
non-zero code and print no result. Exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(cwd: str, workload: str, *extra: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    try:
        return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad: list[str] = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            rc, res = bench(ROOT, w, "--trace", trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            if rc != 0 or res is None or set(res) != KEYS:
                bad.append(f"{w} trace {trace}: exit {rc}, result {res}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{w} trace {trace}: metrics differ from "
                           f"BENCHMARK.json: {sorted(set(got) ^ set(want))}")
            if not res["correct"] or res["attempted"] < 1 or res["failed"]:
                bad.append(f"{w} trace {trace}: {res}")
            if trace == "0" and any(v["value"] <= 0
                                    for v in res["metrics"].values()):
                bad.append(f"{w}: an end-to-end metric is not positive")
        rc, res = bench(ROOT, w, "--trace", "0", "--corrupt")
        if rc != 1 or res is None or res["correct"] or res["failed"] < 1:
            bad.append(f"{w} --corrupt did not trip the gate: exit {rc}, {res}")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, res = bench(bare, spec["workloads"][0]["name"], "--trace", "0")
    finally:
        shutil.rmtree(bare)
    if rc == 0 or res is not None:
        bad.append(f"without the package: exit {rc}, result {res}")

    for b in bad:
        print(f"FAIL {b}")
    print("smoke: ok" if not bad else f"smoke: {len(bad)} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
