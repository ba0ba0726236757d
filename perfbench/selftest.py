"""Self-test of the perfbench harness at a tiny input size.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced and checks that the run
passes its own correctness check, prints every metric BENCHMARK.json names
with its unit, and, when traced, records every span the workload runs.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import END_TO_END, HERE, ROOT, per_layer_metrics
from workloads import MODEL_BUDGETS

TINY = {"kg_crh": 20, "curation": 50}
SPANS = {
    "kg_crh": ["extract", *(f"fusion.{m}" for m in MODEL_BUDGETS), "triples", "evaluation"],
    "curation": ["curate", "evaluation"],
}


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "0", "--seconds", "1", "--trace", str(trace),
        "--entities", str(TINY[workload]),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert declared == per_layer_metrics(), "BENCHMARK.json per_layer differs from run.py"
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(TINY)

    for workload in TINY:
        for trace, names in ((0, END_TO_END), (1, {n: u for n, u, _ in per_layer_metrics()})):
            out = _run(workload, trace)
            label = f"{workload} trace={trace}"
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, label
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, (label, out)
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            assert got == names, (label, set(got) ^ set(names))
            if trace:
                missing = [s for s in SPANS[workload] if out["metrics"][f"{s}.s"]["value"] <= 0]
                assert not missing, (label, "spans not traced", missing)
            print(f"ok {label}")


if __name__ == "__main__":
    main()
