"""Smoke test of the benchmark itself: every workload at a tiny size, then
one traced run at full size, checking that the last stdout line names
exactly the metrics of BENCHMARK.json with their units, none of them 0,
and reports correct outputs; and that in a directory holding only the
benchmark it fails cleanly.

    python3 perfbench/smoke.py

Takes a few minutes (one Spark session per run). Exits non-zero on the
first mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--extract-docs", "200", "--ops-docs", "100", "--core-sample", "50"]


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def check(result: dict | None, specs: list[dict], what: str) -> None:
    if result is None:
        raise SystemExit(f"{what}: no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{what}: keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{what}: outputs not correct: {result}")
    want = {s["name"]: s["unit"] for s in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"{what}: metrics differ: missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}, "
                         f"units {[k for k in want if got.get(k) not in (None, want[k])]}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise SystemExit(f"{what}: {k} is not a number")
    zero = sorted(k for k, v in result["metrics"].items() if v["value"] == 0)
    if zero:
        raise SystemExit(f"{what}: these read 0: {zero}")
    print(f"ok  {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        rc, res = run(["--workload", w["name"], "--seed", "1", "--seconds", "1",
                       "--trace", "0", *TINY])
        if rc:
            raise SystemExit(f"{w['name']}: exit {rc}")
        check(res, spec["end_to_end"], f"{w['name']} --trace 0")
    # the traced run at full size, where every per-layer value must be
    # non-zero (at tiny size a pass can end before the JVM collects once)
    name = spec["workloads"][0]["name"]
    rc, res = run(["--workload", name, "--seed", "1", "--seconds", "1", "--trace", "1"])
    if rc:
        raise SystemExit(f"trace: exit {rc}")
    check(res, spec["per_layer"], "--trace 1")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run(["--workload", name, "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    if rc == 0 or res is not None:
        raise SystemExit(f"bare directory: exit {rc}, result {res}")
    print("ok  fails without the product")
    return 0


if __name__ == "__main__":
    sys.exit(main())
