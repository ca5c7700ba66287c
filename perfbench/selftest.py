"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py            # from the root of a checkout

Runs every workload once untraced and once traced (``--small``), and checks
that each run exits 0, verifies its outputs, and emits every metric
BENCHMARK.json names (end-to-end untraced, per-layer traced) plus the
metrics of the layers the workload runs. Then checks that the benchmark
fails, without printing a result, in a directory holding only
BENCHMARK.json and the benchmark's own files. Takes about twelve minutes on
4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def run(args, cwd) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)  # the workloads import the repository's tools
    from workloads import LAYERS, WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(WORKLOADS), listed - set(WORKLOADS)
    problems = []
    for name, wl in WORKLOADS.items():
        for trace in (0, 1):
            p = run(["--workload", name, "--seed", "7", "--seconds", "0",
                     "--trace", str(trace), "--small"], root)
            tag = f"{name} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            res = json.loads(p.stdout.splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['attempted']} attempted, "
                                f"{res['failed']} failed")
            want = {m["name"]: m["unit"] for m in
                    spec["per_layer" if trace else "end_to_end"]}
            if trace:
                want.update((m, u) for layer in wl.layers
                            for m, u in LAYERS[layer].items())
            for m, unit in want.items():
                got = res["metrics"].get(m)
                if got is None or got["unit"] != unit or not isinstance(
                        got["value"], (int, float)):
                    problems.append(f"{tag}: metric {m} ({unit}) is {got}")
            print(f"ok {tag}: {res['attempted']} runs, "
                  f"{len(res['metrics'])} metrics", flush=True)

    # without the program the benchmark must fail and print no result
    bare = os.path.join(root, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], bare)
        if p.returncode == 0 or '"metrics"' in p.stdout:
            problems.append(f"bare directory: exit {p.returncode}, "
                            f"stdout {p.stdout[-300:]!r}")
        else:
            print(f"ok bare directory: exit {p.returncode}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
