#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Run from the repository root.  For every workload in BENCHMARK.json it runs
one short untraced and one short traced run and checks that each prints
every declared metric with its declared unit, that no operation failed, and
that the benchmark refuses to run (non-zero exit, no result) in a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def run(cwd: pathlib.Path, *args: str) -> subprocess.CompletedProcess:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return subprocess.run(
        [*spec["command"], *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems: list[str] = []
    for wl in spec["workloads"]:
        for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = run(ROOT, "--workload", wl["name"], "--seed", "7", "--seconds", "1",
                    "--trace", trace, "--size", "tiny")
            where = f"{wl['name']} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = last_json(p.stdout)
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{where}: correct={res['correct']} failed={res['failed']}")
            got = res["metrics"]
            want = {m["name"]: m["unit"] for m in declared}
            if set(got) != set(want):
                problems.append(f"{where}: metrics differ: {sorted(set(got) ^ set(want))}")
            for name, unit in want.items():
                if name in got and got[name]["unit"] != unit:
                    problems.append(f"{where}: {name} unit {got[name]['unit']} != {unit}")
            print(f"selftest: {where}: {len(got)} metrics, "
                  f"{res['attempted']} operations, {res['failed']} failed")

    bare = ROOT / ".perfbench_run" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for path in spec["paths"]:
        shutil.copytree(ROOT / path, bare / path, ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0")
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"without the engine: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    else:
        print(f"selftest: without the engine: exit {p.returncode}, no result")
    shutil.rmtree(bare, ignore_errors=True)

    for msg in problems:
        print(f"selftest: FAIL {msg}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
