#!/usr/bin/env python3
"""Small-scale self-test of the benchmark.

Runs every workload at sf0.001 with a few ingest replicas (``--small``),
untraced and traced, and asserts that each run exits 0, checks out
correct, and prints every metric ``BENCHMARK.json`` names with its unit.
Also checks that ``BENCHMARK.json`` and ``run.py`` name the same metrics.

    python3 perfbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    if e2e != run.END_TO_END:
        problems.append(f"end_to_end differs from run.END_TO_END: {e2e}")
    if layer != run.per_layer_units():
        problems.append("per_layer differs from run.per_layer_units()")

    names = argv or [w["name"] for w in spec["workloads"]]
    for workload in names:
        for trace, want in ((0, e2e), (1, layer)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                   workload, "--seed", "1", "--seconds", "1", "--trace",
                   str(trace), "--small"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            tag = f"{workload} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}\n{p.stdout}")
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names or units differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v.get("value"), (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"{tag}: ok" if not problems else f"{tag}: done", flush=True)

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
