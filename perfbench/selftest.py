"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all, including those not listed in
BENCHMARK.json) it checks that an untraced run emits exactly the
end-to-end metrics of BENCHMARK.json and that a traced run emits exactly
the per-layer metrics, and that a run whose first result is deliberately
corrupted reports the failure (``failed`` > 0, ``ok_frac`` < 1,
``correct`` false) while a clean run reports none. Takes a few minutes:
every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from run import run_once  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main(names: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    problems = []
    for name in names or list(WORKLOADS):
        clean = run_once(name, seed=7, seconds=1, trace=True, tiny=True)
        bad = run_once(name, seed=7, seconds=1, trace=False, tiny=True, corrupt=True)
        for label, res, want in (("traced", clean, per_layer), ("untraced", bad, e2e)):
            got = set(res["metrics"])
            if got != want:
                problems.append(
                    f"{name} {label}: missing {sorted(want - got)}, extra {sorted(got - want)}"
                )
        if not clean["correct"] or clean["failed"]:
            problems.append(f"{name}: clean run failed {clean['failed']} checks")
        ok = bad["metrics"].get("ok_frac", {}).get("value", 1.0)
        if bad["correct"] or bad["failed"] != 1 or ok >= 1.0:
            problems.append(
                f"{name}: corrupted run not caught (failed={bad['failed']}, ok_frac={ok})"
            )
        print(f"selftest {name}: clean failed={clean['failed']} "
              f"corrupted failed={bad['failed']} ok_frac={ok:.4f}", flush=True)
    for p in problems:
        print(f"selftest FAIL {p}")
    print("selftest", "FAILED" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
