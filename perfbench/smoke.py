"""Smoke test of the benchmark at tiny scale (120 docs, 4,000 measurement rows).

    python3 perfbench/smoke.py

Runs every workload untraced with seeds 1 and 2 and traced with seed 1, and
checks that each run exits 0 with a correct result, that it emits every
metric BENCHMARK.json names for its mode with that metric's unit, and that
the two seeds make different inputs yet report the same metric names.
Takes a few minutes: every run starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"{label}: metrics {sorted(set(got) ^ set(want))} differ "
                         f"or carry the wrong unit")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        raise SystemExit(f"{label}: incorrect result {result}")


def main() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS), names

    state = os.path.join(ROOT, ".perfbench")
    for name in names:
        args = workloads.SCALES["tiny"]["rollup" if name == "rollup_wide" else "city"]
        ctx = workloads.Context(state, state, "tiny", 0)
        w1, w2 = (workloads.world(ctx, args, seed) for seed in (1, 2))
        table = "measurements.parquet" if name == "rollup_wide" else "documents.parquet"
        if workloads.sha256(os.path.join(w1, table)) == workloads.sha256(os.path.join(w2, table)):
            raise SystemExit(f"{name}: seeds 1 and 2 made the same {table}")

        r1, r2 = run(name, 1, 0), run(name, 2, 0)
        check_metrics(r1, bench["end_to_end"], f"{name} seed 1")
        check_metrics(r2, bench["end_to_end"], f"{name} seed 2")
        check_metrics(run(name, 1, 1), bench["per_layer"], f"{name} traced")
        print(f"{name}: ok", flush=True)


if __name__ == "__main__":
    main()
