"""Evidence-age map for the driver rotation (registry.py ROTATION POLICY).

Reads every CORRECTNESS_r*.json at the repo root and prints, per
registered query, the LATEST driver round that checked it — the input
each round's DRIVER_PRIORITY rotation is derived from (10 stalest-first
slots + refreshes; see the policy comment in ub_etl_spark/registry.py).

Usage:
  python tools/evidence_map.py            # age histogram + stalest list
  python tools/evidence_map.py --window N # print the N stalest query
                                          # names, oldest round first,
                                          # ties alphabetical (the order
                                          # DRIVER_PRIORITY wants)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def latest_evidence() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            names = json.load(f)  # query name -> result
        for name in names:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--window", type=int, default=0, help="print the N stalest names")
    args = ap.parse_args()
    latest = latest_evidence()
    if args.window:
        stalest = sorted(latest.items(), key=lambda kv: (kv[1], kv[0]))[: args.window]
        for name, rnd in stalest:
            print(f"{name}  # r{rnd}")
        return
    hist = Counter(latest.values())
    print("evidence age histogram (round -> queries):")
    for rnd in sorted(hist):
        print(f"  r{rnd}: {hist[rnd]}")
    oldest = min(latest.values())
    names = sorted(n for n, r in latest.items() if r == oldest)
    print(f"stalest (r{oldest}, {len(names)}):")
    for n in names:
        print(f"  {n}")
    # queries registered but never driver-checked (should be empty once
    # the backlog is drained)
    try:
        import sys

        sys.path.insert(0, ROOT)
        from ub_etl_spark.registry import load_all

        never = sorted(set(load_all()) - set(latest))
        if never:
            print(f"NEVER driver-checked ({len(never)}): {never}")
    except Exception as exc:  # registry import needs pyspark on path
        print(f"(registry cross-check skipped: {exc})")


if __name__ == "__main__":
    main()
