"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Run from the repository root.  Each case is one ``run.py`` process with
``--tiny`` (12 docs at z1-8; 3 registry queries on 500 events):

- clean runs of both workloads print every ``end_to_end`` metric
  (``--trace 0``, each above 0) or every ``per_layer`` metric
  (``--trace 1``) of ``BENCHMARK.json`` with its unit, and report no
  failure;
- a corrupted output tile and a wrong query result row each make the
  run report a failed operation, so the output checks can fail;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run(*extra: str, cwd: str | None = None) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1",
           "--seconds", "1", "--tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, result


def check_metrics(result: dict, expected: list[dict], label: str,
                  positive: bool) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in expected}
    assert set(got) == set(want), f"{label}: metric names differ: " \
        f"{sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        v = got[name]
        assert v["unit"] == unit, f"{label}: {name} unit {v['unit']} != {unit}"
        assert isinstance(v["value"], (int, float)), f"{label}: {name} value"
        assert v["value"] > 0 or not positive, f"{label}: {name} is 0"


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for workload in ("render", "registry"):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{workload} trace={trace}"
            rc, res = run("--workload", workload, "--trace", str(trace))
            assert rc == 0 and res, f"{label}: exit {rc}"
            check_metrics(res, bench[key], label, positive=trace == 0)
            assert res["correct"] and res["failed"] == 0 \
                and res["attempted"] >= 1, f"{label}: {res}"
            print(f"ok  {label}: {len(res['metrics'])} metrics", flush=True)
    for workload in ("render", "registry"):
        rc, res = run("--workload", workload, "--trace", "0", "--inject-fault")
        assert rc == 0 and res, f"{workload} --inject-fault: exit {rc}"
        assert not res["correct"] and res["failed"] >= 1, \
            f"{workload} --inject-fault: the check did not fail: {res}"
        print(f"ok  {workload} --inject-fault: failed {res['failed']} of "
              f"{res['attempted']}", flush=True)
    with tempfile.TemporaryDirectory(dir=".") as bare:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run("--workload", "render", "--trace", "0", cwd=bare)
        assert rc != 0 and res is None, f"bare directory: exit {rc}"
        print(f"ok  bare directory: exit {rc}, no result", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
