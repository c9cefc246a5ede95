#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (500 docs per workload).

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced
with ``--scale toy``, then checks that each run passes its correctness
gate, prints exactly the metric names BENCHMARK.json declares with
their units, and that the traced ledger adds up: the attributed SQL
execution times plus ``checkpoint.driver_gap_s`` equal ``trace.wall_s``
and the gap is not negative, and that the tracing overhead is reported.
Exit code 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LEDGER_PARTS = (
    "checkpoint.extract_write_s",
    "checkpoint.metrics_write_s",
    "checkpoint.other_sql_s",
    "checkpoint.driver_gap_s",
)


def run(workload: str, trace: int, seed: int) -> tuple[int, dict, dict]:
    argv = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    res = subprocess.run(argv, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600)
    lines = res.stdout.strip().splitlines()
    return res.returncode, json.loads(lines[-2])["perfbench_record"], json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    errors = []
    for i, w in enumerate(spec["workloads"]):
        for trace in (0, 1):
            code, record, result = run(w["name"], trace, seed=1000 + i)
            tag = f"{w['name']} trace={trace}"
            if code != 0 or not result["correct"] or result["failed"]:
                errors.append(f"{tag}: exit {code}, problems {record['problems']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                errors.append(f"{tag}: metric names/units differ: "
                              f"missing {sorted(set(want[trace]) - set(got))}, "
                              f"extra {sorted(set(got) - set(want[trace]))}")
            if trace:
                L = record["ledger"]
                total = sum(L[k] for k in LEDGER_PARTS)
                if abs(total - L["trace.wall_s"]) > 1e-6 or L["checkpoint.driver_gap_s"] < 0:
                    errors.append(f"{tag}: ledger {total} vs wall {L['trace.wall_s']}")
                if record["trace_overhead"]["overhead_s"] is None:
                    errors.append(f"{tag}: no tracing overhead after an untraced run")
            print(f"{tag}: {'ok' if not errors else 'FAIL'}", flush=True)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
