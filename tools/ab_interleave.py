"""Interleaved, rotated-order, quiet-gated A/B harness for runtime confs
(r15 optimization round).  This is the measurement methodology behind the
session-conf decisions in OPTIMIZATION_r15.md:

- INTERLEAVED: every rep runs every (query, variant) pair back-to-back in
  ONE session, so a box-load window hits all variants equally and the
  per-cell min lands in the same quiet windows for everyone.
- ROTATED ORDER: the variant order cycles per rep.  Measured r15: the
  first-run variant of a rep carries a systematic penalty, so a fixed
  order overstates whichever variant runs last (the 64k-vs-1m decision
  flipped magnitude once rotation was added).
- QUIET-GATED: each rep waits for load_avg_1m < THRESH before starting
  (this VM gets multi-second external noise windows; min-of-N then
  reflects quiet behavior for every variant).

Usage:
    QUERIES="a b c" REPS=6 THRESH=1.2 \
    VARIANTS='{"v0": {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m"},
               "v1": {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k"}}' \
    python tools/ab_interleave.py

Only runtime-settable confs (AQE knobs, thresholds) can be A/B'd this
way; static confs need separate sessions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.session import get_spark, release_persisted  # noqa: E402


def main() -> None:
    queries = os.environ["QUERIES"].split()
    reps = int(os.environ.get("REPS", "6"))
    thresh = float(os.environ.get("THRESH", "1.2"))
    variants: dict[str, dict[str, str]] = json.loads(os.environ["VARIANTS"])
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    registry = load_all()
    spark = get_spark("ab-interleave")
    spark.sparkContext.setLogLevel("ERROR")
    # a static, unknown or misspelled key would otherwise raise from
    # spark.conf.unset in the middle of a measurement, or be ignored
    all_keys = sorted({k for conf in variants.values() for k in conf})
    fixed = [k for k in all_keys if not spark.conf.isModifiable(k)]
    if fixed:
        sys.exit(f"conf keys not modifiable at runtime: {', '.join(fixed)}")

    def wait_quiet(limit_s: float = 600) -> None:
        t0 = time.time()
        while os.getloadavg()[0] > thresh and time.time() - t0 < limit_s:
            time.sleep(10)

    # r15 ADVICE: when variants' key SETS differ, a conf set by variant A
    # must not silently persist into variant B's measurement — snapshot
    # the session baseline for the UNION of all variant keys once, and
    # before each run set EVERY key in that union (variant value or the
    # baseline) instead of only the variant's own keys.
    baseline: dict[str, str | None] = {}

    def run(name: str, conf: dict[str, str]) -> float:
        for k in all_keys:
            if k in conf:
                spark.conf.set(k, conf[k])
            elif baseline.get(k) is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, baseline[k])
        t0 = time.perf_counter()
        registry[name].fn(spark, sf).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        release_persisted()
        return round(dt, 3)

    for k in all_keys:
        try:
            baseline[k] = spark.conf.get(k)
        except Exception:  # unset in this session and no default
            baseline[k] = None
    run("scan_parquet", {})
    names = list(variants)
    res: dict[tuple[str, str], list[float]] = {
        (q, v): [] for q in queries for v in names
    }
    for rep in range(reps):
        wait_quiet()
        order = names[rep % len(names):] + names[: rep % len(names)]
        for q in queries:
            for v in order:
                res[(q, v)].append(run(q, variants[v]))
    print(f"{'query':32} " + " ".join(f"{v:>9}" for v in names))
    tot = dict.fromkeys(names, 0.0)
    for q in queries:
        mins = {v: min(res[(q, v)]) for v in names}
        for v in names:
            tot[v] += mins[v]
        print(f"{q:32} " + " ".join(f"{mins[v]:9.3f}" for v in names))
    print(f"{'TOTAL':32} " + " ".join(f"{tot[v]:9.2f}" for v in names))
    print("samples:", json.dumps({f"{q}|{v}": s for (q, v), s in res.items()}))


if __name__ == "__main__":
    main()
