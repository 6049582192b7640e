"""bench.py's gates and its printed line: the absolute-time gate and the
zero-residue rule read cost notes from the registry; the driver line keeps
its key set and fits the driver's capture window."""

from __future__ import annotations

import importlib.util
import os


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_abs_time_gate_against_committed_sidecar():
    """Absolute-time gate (r5 verdict task 4), enforced each round against
    the committed sf0.1 bench_detail.json: every query over ABS_TIME_GATE_S
    in the last full bench run must carry a cost_note on its @register.
    A query newly crossing the gate fails here until someone measures it
    and writes the note."""
    import json

    from ub_etl_spark.registry import load_all

    mod = _bench()
    detail_path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(detail_path) as fh:
        detail = json.load(fh)
    if detail.get("sf") != 0.1:  # only the full-scale sidecar is meaningful
        return
    documented = {n for n, spec in load_all().items() if spec.cost_note}
    undocumented = sorted(
        n
        for n, sec in detail["queries"].items()
        if sec > mod.ABS_TIME_GATE_S and n not in documented
    )
    assert not undocumented, (
        f"queries over {mod.ABS_TIME_GATE_S}s without a cost note: {undocumented}"
    )


def test_zero_residue_against_committed_sidecar():
    """r9 verdict task 2: the zero-residue accounting, recomputed from
    bench.py's CURRENT constants against the committed sidecar — so a rule
    tweak or a note removal that reopens residue fails here without waiting
    for the next full bench run.  Calls the SAME residue_unexplained
    function bench.py's artifact emission uses (a query is explained by
    subfloor oracle, a documented exception, own floor-adjusted ratio < 2,
    or — small-oracle regime only: oracle under SMALL_ORACLE_FLOORS
    job-floors — own time within the machinery cap or a cost_note), so the
    enforced rule cannot drift from the emitted one."""
    import json

    mod = _bench()
    detail_path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(detail_path) as fh:
        detail = json.load(fh)
    if detail.get("sf") != 0.1:  # only the full-scale sidecar is meaningful
        return
    residue = mod.residue_unexplained(
        detail["queries"], detail["oracle_queries"], detail["spark_job_floor_s"]
    )
    assert not residue, (
        f"unexplained >2x floor-adjusted residue vs committed sidecar: {residue}"
    )


def test_residue_rule_paths_synthetic():
    """Pin every escape path of residue_unexplained on synthetic inputs —
    the committed-sidecar gate only exercises whichever paths the current
    measurement happens to contain.  Covers: subfloor oracle, own
    floor-adjusted ratio < 2, small-oracle within the machinery cap
    (including the MACHINERY_CAP_MIN_S flooring when the sampled floor is
    low), small-oracle over the cap with a cost_note, a ratio exception,
    and the two true-residue shapes (small-oracle over cap without a
    story; big-oracle ratio >= 2)."""
    from ub_etl_spark.registry import load_all

    mod = _bench()
    registry = load_all()
    noted = next(
        n for n, q in registry.items() if q.cost_note and not q.ratio_exception
    )
    excepted = next(n for n, q in registry.items() if q.ratio_exception)
    floor = 0.05  # 14 * 0.05 = 0.7 < MACHINERY_CAP_MIN_S -> cap floors at 1.0
    cutoff, cap = mod.machinery_bounds(floor)
    assert cutoff == 0.2 and cap == mod.MACHINERY_CAP_MIN_S
    timings = {
        "sub": 1.0,
        "ratio_ok": 0.3,
        "capped": 0.99,
        noted: 5.0,
        excepted: 9.9,
        "bad_small": 1.01,
        "bad_big": 2.0,
    }
    oracle = {
        "sub": 0.01,  # subfloor -> explained
        "ratio_ok": 0.30,  # floor-adj ratio 0.83 < 2 -> explained
        "capped": 0.10,  # small oracle, 0.99 <= cap 1.0 -> explained
        noted: 0.10,  # small oracle, over cap, noted -> explained
        excepted: 0.50,  # big oracle, ratio 19.7 -> exception -> explained
        "bad_small": 0.10,  # small oracle, over cap, NO story -> residue
        "bad_big": 0.50,  # big oracle, ratio 3.9, no story -> residue
    }
    assert mod.residue_unexplained(timings, oracle, floor) == [
        "bad_big",
        "bad_small",
    ]


def test_detail_sidecar_routing(tmp_path):
    """r10 verdict task 6: the committed bench_detail.json may only be
    written by a deliberate SPARK_GRAFT_BENCH_DETAIL run; an unadorned
    (driver-style) run routes to the round-stamped gitignored sidecar,
    with the previous round's stamped file as its delta base."""
    mod = _bench()
    here = str(tmp_path)
    # explicit env -> write and delta base are that path, verbatim
    assert mod.detail_sidecar_paths("/x/y.json", here) == ("/x/y.json", "/x/y.json")
    # no BENCH_r*.json yet -> round 0, delta base falls back to committed
    w, p = mod.detail_sidecar_paths(None, here)
    assert w.endswith("bench_detail_r00.json")
    assert p.endswith("bench_detail.json")
    # BENCH_r10 exists -> this run is round 11; no stamped r10 sidecar ->
    # fall back to the committed quiet-box artifact
    (tmp_path / "BENCH_r10.json").write_text("{}")
    w, p = mod.detail_sidecar_paths(None, here)
    assert w.endswith("bench_detail_r11.json")
    assert p.endswith("bench_detail.json")
    # a stamped predecessor exists -> like-for-like delta base
    (tmp_path / "BENCH_r11.json").write_text("{}")
    (tmp_path / "bench_detail_r11.json").write_text("{}")
    w, p = mod.detail_sidecar_paths(None, here)
    assert w.endswith("bench_detail_r12.json")
    assert p.endswith("bench_detail_r11.json")
    # the unadorned path NEVER names the committed sidecar
    assert os.path.basename(w) != "bench_detail.json"


def _synthetic_detail(n_queries: int) -> dict:
    """A detail sidecar shaped like bench.py's, with synthetic values."""
    queries = {f"q{i:03d}_synthetic_query": 0.1 + i / 100 for i in range(n_queries)}
    return {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": n_queries,
        "cpus": 4,
        "spark_job_floor_s": 0.07,
        "oracle_total": 50.0,
        "aggregate_ratio": 1.9,
        "aggregate_ratio_excl_subfloor": 1.5,
        "median_ratio_meaningful_oracle": 1.2,
        "aggregate_ratio_excl_subfloor_and_exceptions": 1.1,
        "sub_floor_queries": ["a", "b"],
        "floor_adjacent_queries": ["c"],
        "unexplained_over_2x_floor_adjusted": [],
        "machine_state_per_pass": [{"load_avg_1m": 1.0}] * 3,
        "over_abs_gate_undocumented": [],
        "budget_truncated": [],
        "delta_vs_prev": {n: 2.5 for n in list(queries)[:7]},
        "median_delta_vs_prev": 1.0,
        "queries": queries,
    }


def test_driver_line_key_set_is_pinned():
    """The printed line's key set is pinned; with 262 queries the line
    fits DRIVER_LINE_CAP and the per-query map keeps the expensive head in
    descending order."""
    import json

    keys = [
        "metric", "value", "unit", "sf", "n_queries", "cpus",
        "spark_job_floor_s", "oracle_total", "aggregate_ratio",
        "aggregate_ratio_excl_subfloor", "median_ratio_meaningful_oracle",
        "aggregate_ratio_excl_subfloor_and_exceptions", "n_subfloor",
        "n_floor_adjacent", "n_unexplained_over_2x_floor_adj",
        "load_avg_1m_per_pass", "n_over_abs_gate_undocumented",
        "n_budget_truncated", "n_regressed_2x_vs_prev",
        "median_delta_vs_prev", "n_q_emitted", "queries", "detail_file",
    ]
    mod = _bench()
    out = mod.driver_line(_synthetic_detail(262), "d.json")
    assert len(out) <= mod.DRIVER_LINE_CAP
    parsed = json.loads(out)
    assert list(parsed) == keys
    secs = list(parsed["queries"].values())
    assert secs and secs == sorted(secs, reverse=True)
    assert max(secs) == 2.71  # the slowest synthetic query survives the trim
    assert parsed["n_regressed_2x_vs_prev"] == 5  # capped at the worst five
    assert 0 < parsed["n_q_emitted"] == len(parsed["queries"]) < 262
