"""Alternating A/B pairs of perfbench runs between two checkouts.

    python tools/ab_bench.py --base ../parent --change . \
        --workload pit_pipeline --seeds 1-10 --out ab.json

Each pair runs ``perfbench/run.py`` once in each checkout with the same
seed, base first on odd pairs and change first on even ones, so a host
slowing down over the campaign hits both sides alike. The JSON written to
``--out`` holds every run's end-to-end metrics and, per metric, both
medians, the base's interquartile range and the pairs the change won.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BETTER = {"setup_s": "lower", "op_p50_ms": "lower", "rows_per_s": "higher"}


def run_one(tree: str, workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            **{k: v["value"] for k, v in res["metrics"].items()}}


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(pairs: list[dict]) -> dict:
    out = {}
    for m, better in BETTER.items():
        base = [p["base"][m] for p in pairs]
        change = [p["change"][m] for p in pairs]
        q = statistics.quantiles(base, n=4) if len(base) > 1 else [0, 0, 0]
        wins = sum((c < b) if better == "lower" else (c > b)
                   for b, c in zip(base, change))
        out[m] = {"base_median": statistics.median(base),
                  "change_median": statistics.median(change),
                  "base_iqr": q[2] - q[0], "change_wins": wins,
                  "pairs": len(pairs)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            tree = os.path.abspath(getattr(args, side))
            pair[side] = run_one(tree, args.workload, seed, args.seconds)
        pairs.append(pair)
        print(json.dumps(pair), flush=True)
    with open(args.out, "w") as fh:
        json.dump({"workload": args.workload, "seconds": args.seconds,
                   "pairs": pairs, "summary": summarize(pairs)}, fh, indent=1)
    print(json.dumps(summarize(pairs), indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
