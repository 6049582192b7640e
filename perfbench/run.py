"""perfbench entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Runs from the root of a checkout of this repository.  One workload runs in
one long-lived ``local[nproc]`` session: set-up (session start, seeded
inputs, one untimed warm-up of every timed plan), a closed-loop timed
phase of fixed work sized to about ``--seconds``, then the correctness
gate, untimed.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exit code 0 only when every correctness check passed.

A traced run runs each timed op twice, untraced and traced; the
difference of the two op medians is the tracing overhead.  Its spans and
per-op engine counters go to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("etl_refresh", "analytic_mix")


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for "end_to_end" or "per_layer", from the
    benchmark's own declaration in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# the end-to-end metrics the human-readable block shows per workload
SHOWN = {
    "etl_refresh": ("first_load_s", "read_p50_s", "stored_bytes_per_input_byte"),
    "analytic_mix": ("dup_recall", "ann_recall_at_5"),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_checkout() -> None:
    """The benchmark builds nothing: it needs the package source beside it."""
    for need in ("ub_etl_spark/__init__.py", "tools/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout root",
                  file=sys.stderr)
            raise SystemExit(2)


def run_all(args) -> int:
    """Each workload in its own process (its own session); exit non-zero
    if any of them fails its correctness gate."""
    worst = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        worst = max(worst, subprocess.run(cmd, check=False).returncode)
    return worst


def start_session(work: str, cores: int):
    from ub_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the gateway process ends
    when its stdin closes (Python workers are its children)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, work: str, seed: int, tracer, loop, cores: int,
                  traced_run: bool, seconds: float):
    if name == "etl_refresh":
        from perfbench.etl import EtlWorkload as W
    else:
        from perfbench.analytic import AnalyticWorkload as W
    return W(spark, work, seed, tracer, loop, cores, traced_run, seconds)


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from ub_etl_spark.session import refuse_extra_conf

    refuse_extra_conf("perfbench")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the package from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_one(args, work: str) -> int:
    import pyspark

    from perfbench.common import (
        OpLoop,
        SparkProfile,
        Tracer,
        cpu_ticks,
        load_1m,
        net_of_steal,
        print_block,
        steal_share,
        write_trace,
    )

    n = len(os.sched_getaffinity(0))
    ticks_setup = cpu_ticks()
    t0 = time.perf_counter()
    spark = start_session(work, n)
    tracer = Tracer(enabled=False)
    loop = OpLoop(spark, tracer, None)
    wl = make_workload(args.workload, spark, work, args.seed, tracer, loop, n, bool(args.trace),
                       args.seconds)
    try:
        t_session = time.perf_counter() - t0
        wl.setup()
        setup_wall = time.perf_counter() - t0
        ticks0 = cpu_ticks()
        setup_s = net_of_steal(setup_wall, ticks_setup, ticks0)
        n_setup, setup_failed = len(loop.history), loop.failed
        loop.attempted = loop.failed = 0  # from here on: the timed phase's ops

        if args.trace:
            loop.profile = SparkProfile(spark)
        wl.timed(args.seconds, paired=bool(args.trace))
        steal_ratio = steal_share(ticks0, cpu_ticks())
        load = load_1m()
        attempted, failed = loop.attempted, loop.failed
        t_gate = time.perf_counter()
        try:
            ok, msgs, counts = wl.check()
        except Exception as e:  # noqa: BLE001 - a crashed gate is a failed gate
            ok, msgs, counts = False, [f"correctness gate raised {type(e).__name__}: {e}"], {}
        t_gate = time.perf_counter() - t_gate
        e2e = wl.end_to_end()
        traced = wl.end_to_end(traced=True) if args.trace else None
    finally:
        wl.close()
        stop_session(spark)

    # the gate counts as one more op; set-up failures fail the run too
    attempted += 1
    failed += 0 if ok else 1
    ok = ok and failed == 0 and setup_failed == 0
    msgs = loop.errors + msgs
    e2e["op_error_rate"] = failed / attempted
    e2e["setup_s"] = setup_s
    end_to_end, per_layer = metric_units("end_to_end"), metric_units("per_layer")
    rows = [(k, e2e[k], u) for k, u in end_to_end.items()]
    if e2e.get("op_p90_s") is not None:
        rows.append(("op_p90_s", e2e["op_p90_s"], "s"))
    rows += [(k, e2e[k], per_layer[k]) for k in SHOWN[args.workload] if k in e2e]
    rows.append(("op_error_rate", e2e["op_error_rate"], "ratio"))
    print_block(args.workload, rows)
    print(f"  set-up: {setup_wall:.2f} s wall; session + inputs {t_session:.2f} s; "
          + ", ".join(f"{name} {dt:.2f} s" for name, dt, _ in loop.history[:n_setup]))
    print(f"  timed: {e2e['n_ops']} unit ops in {e2e['timed_s']:.2f} s; "
          + ", ".join(f"{name} {dt:.2f} s" for name, dt, _ in loop.history[n_setup:]))
    print("  timed, wall time with steal: "
          + ", ".join(f"{name} {w:.2f} s" for name, _, w in loop.history[n_setup:]))
    print(f"  correctness gate: {'passed' if ok else 'FAILED'} ({t_gate:.2f} s)")
    for m in msgs:
        print(f"  CHECK FAILED: {m}")

    if args.trace:
        self_times = tracer.self_times()
        layer = dict.fromkeys(per_layer, 0.0)
        layer.update({k: v for k, v in e2e.items() if k in per_layer and v is not None})
        layer.update(wl.layer_metrics(self_times, counts))
        layer.update(loop.profile.summary())
        layer["box.load_1m"] = load
        layer["box.steal_ratio"] = steal_ratio
        layer["trace.op_p50_s"] = traced["op_p50_s"]
        layer["trace.overhead_s"] = traced["op_p50_s"] - e2e["op_p50_s"]
        layer["trace.spans"] = len(tracer.spans)
        out_path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        write_trace(out_path, args.workload, args.seed, tracer, loop.profile, {
            "pyspark": pyspark.__version__,
            "cores": n,
            "untraced": e2e,
            "traced": traced,
            "layers": layer,
            "counts": counts,
            "self_times": self_times,
        })
        print(f"# per-layer self time (s, summed over traced ops); trace file {out_path}")
        for name, xs in sorted(self_times.items()):
            print(f"  {name:<36s} {sum(xs):>10.4f} over {len(xs)} spans")
        print(f"  tracing overhead: op_p50_s {e2e['op_p50_s']:.4f} untraced -> "
              f"{traced['op_p50_s']:.4f} traced ({layer['trace.overhead_s']:+.4f} s)")
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    print(f"# pyspark {pyspark.__version__}, local[{n}], load_1m {load:.2f}, "
          f"CPU steal in the set-up {steal_share(ticks_setup, ticks0):.1%}, "
          f"in the timed phase {steal_ratio:.1%}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
