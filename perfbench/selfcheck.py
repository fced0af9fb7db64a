"""Self-check for the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload once untraced and once traced at sf0.001 and
asserts that each run prints every metric BENCHMARK.json names, with
its unit, and that no op failed (fail_ratio 0). It also checks that
the benchmark refuses to run, without printing a result, from a
directory holding only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    sys.path.insert(0, HERE)
    import workloads

    for name in workloads.WORKLOADS:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            p = run(ROOT, "--workload", name, "--seed", "7",
                    "--seconds", "1", "--trace", trace, "--sf", "0.001")
            tag = f"{name} --trace {trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]
                       if len(ln.split()) == 3}
            if got != want or printed != want:
                problems.append(f"{tag}: metrics/units {got} != {want}")
            if out["failed"] != 0 or out["attempted"] < 1 or not out["correct"]:
                problems.append(f"{tag}: fail_ratio "
                                f"{out['failed']}/{out['attempted']}")
            print(f"ok {tag}: {out['attempted']} ops", flush=True)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=tmp_root) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "--workload", spec["workloads"][0]["name"], "--seed",
                "1", "--seconds", "1", "--trace", "0")
        if p.returncode == 0 or p.stdout.strip():
            problems.append("runs without the engine sources")
    with contextlib.suppress(OSError):
        os.rmdir(tmp_root)
    for msg in problems:
        print("FAIL", msg)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
