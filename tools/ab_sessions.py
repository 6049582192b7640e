"""Rotated-order A/B harness for STATIC session confs (r16 optimization
round).  tools/ab_interleave.py A/Bs runtime-settable confs (AQE knobs)
inside one session; confs read at SparkContext creation — io/shuffle
compression codec, spark.speculation — cannot be flipped that way, so
each (rep, variant) cell here is a fresh SUBPROCESS whose session is
built under SPARK_GRAFT_EXTRA_CONF.  Methodology mirrors ab_interleave:

- ROTATED ORDER: the variant order cycles per rep, so session-startup /
  first-run penalties hit every variant equally.
- QUIET-GATED: each rep waits for load_avg_1m < THRESH before starting.
- Per-cell time is the query wall-clock INSIDE the subprocess (session
  startup and codegen warmup excluded via a scan_parquet warm run).

Usage:
    QUERIES="graph_triangle_count graph_jaccard_link_prediction" REPS=4 \
    VARIANTS='{"lz4": "", "zstd": "spark.io.compression.codec=zstd"}' \
    python tools/ab_sessions.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = """
import json, os, sys, time
sys.path.insert(0, {here!r})
from ub_etl_spark.registry import load_all
from ub_etl_spark.session import get_spark, release_persisted

registry = load_all()
spark = get_spark("ab-sessions")
spark.sparkContext.setLogLevel("ERROR")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
out = {{}}
registry["scan_parquet"].fn(spark, sf).write.mode("overwrite").format("noop").save()
for name in {queries!r}:
    t0 = time.perf_counter()
    registry[name].fn(spark, sf).write.mode("overwrite").format("noop").save()
    out[name] = round(time.perf_counter() - t0, 3)
    release_persisted()
print("ABRESULT " + json.dumps(out))
"""


def main() -> None:
    queries = os.environ["QUERIES"].split()
    reps = int(os.environ.get("REPS", "4"))
    thresh = float(os.environ.get("THRESH", "1.2"))
    variants: dict[str, str] = json.loads(os.environ["VARIANTS"])

    def wait_quiet(limit_s: float = 600) -> None:
        t0 = time.time()
        while os.getloadavg()[0] > thresh and time.time() - t0 < limit_s:
            time.sleep(10)

    names = list(variants)
    res: dict[tuple[str, str], list[float]] = {
        (q, v): [] for q in queries for v in names
    }
    code = _WORKER.format(here=HERE, queries=queries)
    for rep in range(reps):
        order = names[rep % len(names):] + names[: rep % len(names)]
        for v in order:
            wait_quiet()
            env = dict(os.environ)
            if variants[v]:
                env["SPARK_GRAFT_EXTRA_CONF"] = variants[v]
            else:
                env.pop("SPARK_GRAFT_EXTRA_CONF", None)
            p = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True, env=env
            )
            line = next(
                (ln for ln in p.stdout.splitlines() if ln.startswith("ABRESULT ")),
                None,
            )
            if line is None:
                print(f"rep {rep} variant {v} FAILED:\n{p.stderr[-2000:]}")
                continue
            cell = json.loads(line[len("ABRESULT "):])
            for q, dt in cell.items():
                res[(q, v)].append(dt)
            print(f"rep {rep} {v}: total {round(sum(cell.values()), 2)}s")
    print(f"{'query':32} " + " ".join(f"{v:>9}" for v in names))
    tot = dict.fromkeys(names, 0.0)
    for q in queries:
        mins = {v: min(res[(q, v)]) if res[(q, v)] else float("nan") for v in names}
        for v in names:
            tot[v] += mins[v]
        print(f"{q:32} " + " ".join(f"{mins[v]:9.3f}" for v in names))
    print(f"{'TOTAL':32} " + " ".join(f"{tot[v]:9.2f}" for v in names))
    print("samples:", json.dumps({f"{q}|{v}": s for (q, v), s in res.items()}))


if __name__ == "__main__":
    main()
