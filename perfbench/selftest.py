"""Self-test of the benchmark: run every workload once at the tiny size
with tracing on and check the output contract.

    python3 perfbench/selftest.py

Run from the repository root.  For each workload of BENCHMARK.json it
asserts that the run exits 0 with a correct result, that every
end-to-end metric is reported and every per-layer metric is emitted,
each with the unit BENCHMARK.json gives it, and that the self times of
the reported layers account for the traced pass time: their sum with
the root span's own self time is within 1 % of it, and the root's own
share is under half (spans cover most of a pass).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_workload(bench: dict, workload: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", "1", "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if not result["correct"] or result["failed"]:
        errors.append(f"checks failed: {lines[:-1]}")
    # end-to-end metrics appear on the report lines: "metric <wl> <name> <value> <unit>"
    reported = {}
    for line in lines[:-1]:
        parts = line.split()
        if parts[:2] == ["metric", workload]:
            reported[parts[2]] = (float(parts[3]), parts[4])
    for m in bench["end_to_end"]:
        got = reported.get(m["name"])
        if got is None or got[1] != m["unit"] or not got[0] > 0:
            errors.append(f"end-to-end {m['name']}: {got}")
    layers = result["metrics"]
    for m in bench["per_layer"]:
        got = layers.get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"per-layer {m['name']}: {got}")
    # a span name missing from the report leaves its self time out of
    # the sum; a call left outside every span lands in the root's
    root_self = layers["bench.pass.self_s"]["value"]
    self_total = sum(v["value"] for k, v in layers.items() if k.endswith(".self_s"))
    traced = layers["trace.pass_s"]["value"]
    if abs(self_total - traced) > 0.01 * traced:
        errors.append(f"self times sum to {self_total:.4f} s, traced pass_s is {traced:.4f} s")
    if root_self >= 0.5 * traced:
        errors.append(f"bench.pass.self_s {root_self:.4f} s is most of the traced pass {traced:.4f} s")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    failed = False
    for w in bench["workloads"]:
        errors = check_workload(bench, w["name"])
        print(f"{w['name']}: {'ok' if not errors else 'FAILED'}")
        for e in errors:
            print(f"  {e}")
        failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
