"""Self-test of the benchmark: one short run per workload and mode.

    python3 perfbench/selftest.py [workload ...]

For each workload named in BENCHMARK.json (or on the command line) it
runs ``run.py`` with ``--seconds 0`` (the fewest warm rounds) and asserts
that
- an untraced run prints every ``end_to_end`` metric with its unit, and
  fails nothing;
- a traced run with every expected digest corrupted prints every
  ``per_layer`` metric with its unit, and counts failed operations.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", "7", "--seconds", "0", "--trace", str(trace)]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics differ: {sorted(set(got) ^ set(want))}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for wl in workloads:
        r = run(wl, 0, False)
        check_metrics(r, bench["end_to_end"], f"{wl} untraced")
        assert r["correct"] and r["failed"] == 0, f"{wl}: {r['failed']} failed"
        for m in bench["end_to_end"]:
            assert r["metrics"][m["name"]]["value"] > 0, f"{wl}: {m['name']} is 0"
        print(f"ok {wl} untraced: {r['attempted']} operations", flush=True)

        r = run(wl, 1, True)
        check_metrics(r, bench["per_layer"], f"{wl} traced")
        assert r["failed"] > 0 and not r["correct"], f"{wl}: corrupt digests passed"
        print(f"ok {wl} traced, corrupt: {r['failed']}/{r['attempted']} failed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
