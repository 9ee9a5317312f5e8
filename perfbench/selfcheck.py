"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py [--seed N] [workload ...]

1. ``BENCHMARK.json`` lists exactly the metrics of ``metrics.py``, with
   the same units and directions.
2. Two traced runs of each workload with the same seed report identical
   count metrics (files, storage calls, commits, lookup pruning). Later
   count-based claims rest on this.

Run from the root of the checkout; exits 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402


def is_count(name: str) -> bool:
    return (
        ".files_" in name
        or (name.startswith("storage.") and name.endswith("_n"))
        or name
        in (
            "meta.commit_n",
            "meta.commit_retries",
            "lineage.units_n",
            "merge.files_touched",
            "bloom.files_read_per_lookup",
            "integrity.rows_decoded",
            "compact.bytes_rewritten",
            "expire.snapshots_expired",
        )
    )


def check_catalogue() -> list[str]:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    errs = []
    want_e2e = [{"name": n, "unit": u, "better": b, "bound": x} for n, u, b, x in END_TO_END]
    if bench["end_to_end"] != want_e2e:
        errs.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    want_pl = [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER]
    if bench["per_layer"] != want_pl:
        errs.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    return errs


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("workloads", nargs="*", default=["bulk_cycle", "trickle_ops", "search_queries"])
    args = p.parse_args()
    errs = check_catalogue()
    for wl in args.workloads:
        a, b = traced(wl, args.seed), traced(wl, args.seed)
        diff = {k: (a[k], b[k]) for k in a if is_count(k) and a[k] != b[k]}
        nonzero = sum(1 for k in a if is_count(k) and a[k])
        print(f"{wl}: {nonzero} non-zero count metrics, {len(diff)} differ; "
              f"tracing overhead {a['trace.overhead_pct']:.1f}% / {b['trace.overhead_pct']:.1f}%")
        errs += [f"{wl}: {k} {v[0]} != {v[1]}" for k, v in diff.items()]
    for e in errs:
        print("MISMATCH", e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
