"""Benchmark: run every registered query on the dataset at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}.
The full per-query decomposition goes to a detail sidecar.

Execution is forced with the noop sink (full plan runs, no driver-side
row transfer), which is the honest distributed-execution cost.

Each query runs in three interleaved passes (plus a targeted extra sample
for queries whose samples disagree >1.5x — VM-noise evidence)
and the min is reported: the first run of a distinct plan pays whole-stage
-codegen javac compilation (~0.5-1.5 s), a one-time JVM cost that
amortizes to zero on a long-lived cluster and would otherwise swamp the
actual execution time at bench scale.  The reported number is the
steady-state plan cost — the thing that scales with data volume.
Persisted/cached frames are released after EVERY query, so each sample
measures that query alone — not a run under a pass-long heap of other
queries' caches, and not a CacheManager hit on a twin query's shared
subplan.

Cost stories live on the registry: a query's ``cost_note`` explains an
absolute time over ABS_TIME_GATE_S or a small-oracle ratio, and
``ratio_exception`` marks a >2x ratio that is a property of what the query
deliberately exercises (excluded from the plan-quality aggregate).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.session import cpu_count, get_spark, release_persisted  # noqa: E402

# Absolute-time gate: any query slower than this at sf0.1 must carry a
# cost_note, even when its oracle is sub-floor and the ratio aggregates
# would otherwise hide it.  The gate is green when
# over_abs_gate_undocumented is empty.
ABS_TIME_GATE_S = 1.5
# Small-oracle regime and machinery cap (the residue rule).  The
# Spark/DuckDB ratio is only a plan-defect signal when the oracle is
# several job floors tall: floor_adj_ratio subtracts ONE floor while an
# S-stage plan pays ~S per-stage scheduling latencies, so a linear plan
# shows a floor-adjusted ratio of about (S-1)*floor/oracle, which crosses
# 2.0 for the audited <=~6-stage plans whenever the oracle is under
# ~2.5-3 floors.  Below SMALL_ORACLE_FLOORS floors a >=2x ratio is
# machinery arithmetic, so accountability switches to absolute time: the
# query must sit within MACHINERY_CAP_FLOORS job floors or carry a
# cost_note.  The regime is keyed on oracle/floor alone, so a floor
# sample that drifts (0.069-0.089 s across quiet runs) cannot flap a
# query in and out of the residue.  Audited minimal shapes cluster at
# 5-9.5 floors with +-1-2 floors of min-of-3 noise; 14 floors (~1.0 s)
# sits above that cluster and below the abs gate, so a 1.4 s
# small-oracle query cannot escape every list.
SMALL_ORACLE_FLOORS = 4
MACHINERY_CAP_FLOORS = 14
# The cap never tightens below this when a quiet run samples an unusually
# low floor (min-of-5 floor probes swing 0.066-0.089 s while per-stage
# machinery cost does not shrink with that luck): a 0.066 s floor would
# pull the cap to 0.93 s and flag ~1.0-1.1 s queries a 0.074 s floor run
# exempts.
MACHINERY_CAP_MIN_S = 1.0
# The driver json-parses only the LAST ~2000 characters of stdout, so the
# printed line must fit inside that window with margin.
DRIVER_LINE_CAP = 1940


def machinery_bounds(floor_s: float) -> tuple[float, float]:
    """(small-oracle cutoff, machinery cap) for a measured job floor —
    the two boundaries of the residue rule, in one place."""
    return (
        SMALL_ORACLE_FLOORS * floor_s,
        max(MACHINERY_CAP_FLOORS * floor_s, MACHINERY_CAP_MIN_S),
    )


def residue_unexplained(
    timings: dict, oracle_s: dict, floor_s: float, registry: dict | None = None
) -> list[str]:
    """The zero-residue rule as a pure function: the sorted oracle-bearing
    queries with no story.  A query is explained by a sub-floor oracle, a
    ratio exception, its own floor-adjusted ratio under 2, or (small-oracle
    regime only) its own time within the machinery cap or a cost_note.  No
    query escapes on its oracle's position alone.  Shared by main() and
    tests/test_bench_coverage.py so the enforced rule cannot drift from the
    emitted one."""
    registry = load_all() if registry is None else registry
    excepted = {n for n, s in registry.items() if s.ratio_exception}
    noted = {n for n, s in registry.items() if s.cost_note}
    cutoff, cap = machinery_bounds(floor_s)
    return sorted(
        n
        for n, o in oracle_s.items()
        if n in timings
        and o >= floor_s
        and n not in excepted
        and max(timings[n] - floor_s, 0.0) / max(o, 1e-9) >= 2.0
        and not (o < cutoff and (timings[n] <= cap or n in noted))
    )


def detail_sidecar_paths(env_detail: str | None, here: str) -> tuple[str, str]:
    """Route the detail sidecar: (write_path, delta_base).

    The committed bench_detail.json is a deliberate quiet-box measurement
    and is only written when SPARK_GRAFT_BENCH_DETAIL names a path
    explicitly (write and delta base coincide then).  An unadorned run
    writes the round-stamped bench_detail_r{N}.json (N = 1 + the highest
    BENCH_r*.json at the repo root), so a loaded run never clobbers the
    committed sidecar the pytest gates lint against.  Its delta base is
    the previous round's stamped sidecar, falling back to the committed
    one."""
    import glob as _glob
    import re as _re

    if env_detail:
        return env_detail, env_detail
    rounds = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    n_round = (max(rounds) + 1) if rounds else 0
    detail_path = os.path.join(here, f"bench_detail_r{n_round:02d}.json")
    prev_candidate = os.path.join(here, f"bench_detail_r{n_round - 1:02d}.json")
    prev_path = (
        prev_candidate
        if os.path.exists(prev_candidate)
        else os.path.join(here, "bench_detail.json")
    )
    return detail_path, prev_path


def driver_line(detail: dict, detail_file: str) -> str:
    """The printed line as a pure view of the detail sidecar, compact JSON
    of at most DRIVER_LINE_CAP chars.  ``queries`` carries per-query
    seconds in descending order and is trimmed from the cheap end until the
    line fits, so the expensive head survives (``n_q_emitted`` says how
    many are left)."""
    line = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "sf": detail["sf"],
        "n_queries": detail["n_queries"],
        "cpus": detail["cpus"],
        "spark_job_floor_s": detail["spark_job_floor_s"],
        "oracle_total": detail["oracle_total"],
        "aggregate_ratio": detail["aggregate_ratio"],
        "aggregate_ratio_excl_subfloor": detail["aggregate_ratio_excl_subfloor"],
        "median_ratio_meaningful_oracle": detail["median_ratio_meaningful_oracle"],
        "aggregate_ratio_excl_subfloor_and_exceptions": detail[
            "aggregate_ratio_excl_subfloor_and_exceptions"
        ],
        "n_subfloor": len(detail["sub_floor_queries"]),
        "n_floor_adjacent": len(detail["floor_adjacent_queries"]),
        "n_unexplained_over_2x_floor_adj": len(
            detail["unexplained_over_2x_floor_adjusted"]
        ),
        "load_avg_1m_per_pass": [
            m["load_avg_1m"] for m in detail["machine_state_per_pass"]
        ],
        "n_over_abs_gate_undocumented": len(detail["over_abs_gate_undocumented"]),
        "n_budget_truncated": len(detail["budget_truncated"]),
        # the five worst 2x round-over-round regressions at most
        "n_regressed_2x_vs_prev": min(
            sum(d >= 2.0 for d in detail["delta_vs_prev"].values()), 5
        ),
        # engine side only; the oracle-side median stays in the sidecar
        "median_delta_vs_prev": detail["median_delta_vs_prev"],
        "n_q_emitted": 0,  # how many of ``queries`` survive the trim; set in dump()
        "queries": {
            n: round(s, 2)
            for n, s in sorted(detail["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
        },
        "detail_file": detail_file,
    }

    def dump() -> str:
        line["n_q_emitted"] = len(line["queries"])
        return json.dumps(line, separators=(",", ":"))

    out = dump()
    while len(out) > DRIVER_LINE_CAP and line["queries"]:
        line["queries"].popitem()
        out = dump()
    return out


def run_once(spark, spec, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def oracle_steady(con, sql: str, reps: int = 2) -> float:
    """DuckDB wall-clock for the same query's oracle SQL (min of reps), so
    each artifact carries the single-node reference cost and the
    Spark/DuckDB ratio is auditable from the artifact alone."""

    def once() -> float:
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        return time.perf_counter() - t0

    return min(once() for _ in range(reps))


def machine_state() -> dict:
    """Load average and uptime before a pass: wall-clock deltas on a shared
    VM track external host load, so the artifact carries the evidence."""
    la1, la5, _ = os.getloadavg()
    try:
        with open("/proc/uptime") as fh:
            up = round(float(fh.read().split()[0]))
    except OSError:
        up = None
    return {"load_avg_1m": round(la1, 2), "load_avg_5m": round(la5, 2), "uptime_s": up}


def _sum_ratio(timings: dict, oracle_s: dict, names: list[str]) -> float | None:
    if not names:
        return None
    return round(
        sum(timings[n] for n in names) / max(sum(oracle_s[n] for n in names), 1e-9), 2
    )


def main() -> None:
    import duckdb

    from ub_etl_spark.sources.tables import TABLES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    registry = load_all()
    spark = get_spark("bench")
    # ERROR-only logging: per-run WindowExec warnings from the global-order
    # queries would otherwise push the result line out of the driver's
    # ~2000-char stdout window
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen path once so per-query numbers measure the plan,
    # not first-run classloading
    run_once(spark, registry["scan_parquet"], sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # fixed per-job cost of the execution machinery itself: the smallest
    # possible Spark job through the same noop sink
    def floor_once() -> float:
        t0 = time.perf_counter()
        spark.range(1).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    floor_s = round(min(floor_once() for _ in range(5)), 4)

    # Three full interleaved passes, per-query min: consecutive samples of a
    # query land minutes apart, so a transient noise window on a shared VM
    # cannot inflate all of them, while back-to-back reps can.  When the
    # wall-clock budget runs out, later queries keep the samples they have
    # and queries with none are listed in budget_truncated: a partial
    # artifact beats none.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "3000"))
    t_start = time.perf_counter()
    over_budget = lambda: time.perf_counter() - t_start > budget_s  # noqa: E731
    samples: dict[str, list[float]] = {n: [] for n in registry}
    oracle_s: dict[str, float] = {}
    machine_state_per_pass: list[dict] = []

    def sample(name: str) -> None:
        samples[name].append(run_once(spark, registry[name], sf_dir))
        # each sample is a fresh run of that query alone: no cross-query
        # CacheManager hits, no order dependence
        release_persisted()

    for _pass in range(3):
        machine_state_per_pass.append(machine_state())
        for name, spec in registry.items():
            if over_budget():
                break
            sample(name)
            if spec.oracle is not None:
                # clamp to 1 ms: a 0.0000-rounded oracle makes the ratio a
                # division by ~zero
                o = max(oracle_steady(con, spec.oracle, reps=1), 1e-3)
                oracle_s[name] = round(min(oracle_s.get(name, o), o), 4)
    # Two samples disagreeing by >1.5x are noise evidence, so only those
    # queries get re-measured.
    noisy = [
        n for n, s in samples.items() if s and max(s) > 1.5 * min(s) + 0.05
    ]
    for name in noisy:
        if over_budget():
            break
        sample(name)
    truncated = sorted(n for n, s in samples.items() if not s)
    timings = {n: round(min(s), 4) for n, s in samples.items() if s}
    oracle_s = {n: v for n, v in oracle_s.items() if n in timings}
    ratio = {
        n: round(timings[n] / max(oracle_s[n], 1e-9), 2) if n in oracle_s else None
        for n in timings
    }
    excepted = {n for n, s in registry.items() if s.ratio_exception}
    total = round(sum(timings.values()), 4)
    oracle_total = round(sum(oracle_s.values()), 4)
    spark_with_oracle = round(sum(timings[n] for n in oracle_s), 4)
    # Floor decomposition: a query whose oracle beats the smallest possible
    # Spark job can never reach a 2x ratio for ANY plan; its ratio measures
    # scheduling machinery, not plan quality.
    sub_floor = sorted(n for n in oracle_s if oracle_s[n] < floor_s)
    # oracles in [floor, 2*floor): the scheduling-noise regime, classified
    # but still counted in the ratio aggregates
    floor_adjacent = sorted(
        n for n in oracle_s if floor_s <= oracle_s[n] < 2 * floor_s
    )
    above = [n for n in oracle_s if n not in set(sub_floor)]
    # The sum ratio is hostage to single-oracle noise (join_spatial_grid's
    # 27M-row fetchall swings 20-67 s across sessions); the median moves
    # only if the typical query moves, and is taken over meaningful
    # oracles only, since below the small-oracle cutoff a ratio is
    # per-stage machinery arithmetic.
    meaningful = [
        timings[n] / max(oracle_s[n], 1e-9)
        for n in above
        if oracle_s[n] >= SMALL_ORACLE_FLOORS * floor_s
    ]
    median_ratio_meaningful = (
        round(statistics.median(meaningful), 2) if meaningful else None
    )

    def floor_adj_ratio(name: str) -> float | None:
        if name not in timings or name not in oracle_s:
            return None
        return max(timings[name] - floor_s, 0.0) / max(oracle_s[name], 1e-9)

    over_abs_gate = sorted(n for n in timings if timings[n] > ABS_TIME_GATE_S)
    over_abs_gate_undocumented = [
        n for n in over_abs_gate if not registry[n].cost_note
    ]
    small_oracle_cutoff_s, machinery_cap_s = machinery_bounds(floor_s)
    unexplained_over_2x = residue_unexplained(timings, oracle_s, floor_s, registry)
    # small-oracle queries whose ONLY story is the machinery cap: the cap's
    # reach per run; one near the cap is the signal to write it a note or
    # shave a stage
    small_oracle_cap_only = sorted(
        n
        for n in oracle_s
        if floor_s <= oracle_s[n] < small_oracle_cutoff_s
        and not registry[n].cost_note
        and (floor_adj_ratio(n) or 0.0) >= 2.0
        and timings[n] <= machinery_cap_s
    )
    detail_path, prev_path = detail_sidecar_paths(
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL"),
        os.path.dirname(os.path.abspath(__file__)),
    )
    prev: dict = {}
    prev_oracle: dict = {}
    if os.path.exists(prev_path):
        try:
            with open(prev_path) as fh:
                prev_doc = json.load(fh)
            # only diff like-for-like: same scale factor
            if prev_doc.get("sf") == sf:
                prev = prev_doc.get("queries", {})
                prev_oracle = prev_doc.get("oracle_queries", {})
        except Exception:  # noqa: BLE001
            prev = {}
    # round-over-round deltas, Spark side and oracle side separately, say
    # whether the engine or the comparator moved
    delta_vs_prev = {
        n: round(timings[n] / prev[n], 2)
        for n in timings
        if n in prev and prev[n] > 0
    }
    oracle_delta_vs_prev = {
        n: round(oracle_s[n] / prev_oracle[n], 2)
        for n in oracle_s
        if n in prev_oracle and prev_oracle[n] > 0
    }
    median_delta_vs_prev = (
        round(statistics.median(delta_vs_prev.values()), 2) if delta_vs_prev else None
    )
    median_oracle_delta_vs_prev = (
        round(statistics.median(oracle_delta_vs_prev.values()), 2)
        if oracle_delta_vs_prev
        else None
    )
    detail = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "oracle_queries": oracle_s,
        "ratio": ratio,
        "oracle_total": oracle_total,
        "aggregate_ratio": round(spark_with_oracle / max(oracle_total, 1e-9), 2),
        "spark_job_floor_s": floor_s,
        # share of each query's wall-clock that is the fixed per-job cost
        # (1.0 = pure floor, ~0 = pure plan)
        "floor_share": {
            n: round(min(floor_s / max(timings[n], 1e-9), 1.0), 2) for n in timings
        },
        "sub_floor_queries": sub_floor,
        "floor_adjacent_queries": floor_adjacent,
        # the residue-rule boundaries applied this run
        "small_oracle_cutoff_s": round(small_oracle_cutoff_s, 4),
        "machinery_cap_s": round(machinery_cap_s, 4),
        "small_oracle_cap_only": {n: timings[n] for n in small_oracle_cap_only},
        # oracle-bearing queries with no story; target: empty
        "unexplained_over_2x_floor_adjusted": unexplained_over_2x,
        "aggregate_ratio_excl_subfloor": _sum_ratio(timings, oracle_s, above),
        "median_ratio_meaningful_oracle": median_ratio_meaningful,
        # the plan-quality aggregate: ratio exceptions left out
        "aggregate_ratio_excl_subfloor_and_exceptions": _sum_ratio(
            timings, oracle_s, [n for n in above if n not in excepted]
        ),
        "machine_state_per_pass": machine_state_per_pass,
        # the raw samples behind each min, in measurement order: [4.5, 4.3,
        # 4.2] is a sustained slow window, [4.5, 1.7, 1.7] a cold first pass
        "samples": {n: [round(x, 4) for x in s] for n, s in samples.items() if s},
        "sf": sf,
        "n_queries": len(timings),
        "budget_truncated": truncated,
        "delta_vs_prev": delta_vs_prev,
        "oracle_delta_vs_prev": oracle_delta_vs_prev,
        "median_delta_vs_prev": median_delta_vs_prev,
        "median_oracle_delta_vs_prev": median_oracle_delta_vs_prev,
        # ratio exceptions with their current ratios: one that heals below
        # 2x is a candidate for losing the flag, one far past its reason a
        # regression
        "documented_exceptions": {
            n: {
                "reason": registry[n].cost_note,
                "ratio": ratio.get(n),
                "floor_adj_ratio": (
                    round(floor_adj_ratio(n), 2)
                    if floor_adj_ratio(n) is not None
                    else None
                ),
                "healed_below_2x": floor_adj_ratio(n) is not None
                and floor_adj_ratio(n) < 2.0,
            }
            for n in sorted(excepted)
        },
        "abs_time_gate_s": ABS_TIME_GATE_S,
        "over_abs_gate": {
            n: {"sec": timings[n], "note": registry[n].cost_note or None}
            for n in over_abs_gate
        },
        "over_abs_gate_undocumented": over_abs_gate_undocumented,
        "cpus": cpu_count(),
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(driver_line(detail, os.path.basename(detail_path)))


if __name__ == "__main__":
    main()
