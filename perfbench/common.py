"""Shared machinery for the perfbench workloads: the timed-op loop, the
span tracer, the per-op Spark status-store profile and run hygiene.

Nothing here reaches inside ``ub_etl_spark``: spans wrap the benchmark's
own calls into the package's public functions, and engine counters are
read from Spark's status stores after each op is tagged with a job group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def load_1m() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) CPU ticks of the box since boot, from /proc/stat.
    Steal is time a vCPU had work but the hypervisor ran someone else;
    busy is user, nice, system, irq and softirq time.  An idle vCPU
    accrues neither."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the box's wanted CPU time the hypervisor stole between two
    ``cpu_ticks()`` readings."""
    steal, busy = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (steal + busy) if steal > 0 else 0.0


def net_of_steal(wall: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall`` seconds less the share the hypervisor stole.  While a vCPU
    is stolen, work on it stops, so work that ran ``wall`` seconds at
    steal share ``f`` would have run ``wall * (1 - f)`` seconds on an
    unshared host.  On a shared VM steal comes in episodes of minutes;
    taking it out keeps them from moving the figures of unchanged code."""
    return wall * (1.0 - steal_share(t0, t1))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """90th percentile, or None when fewer than 10 samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


def modes(i: int, paired: bool) -> tuple[bool, ...]:
    """Tracing off/on for the ``i``-th op of a timed phase.  A paired
    (traced) run does each op both ways, alternating which goes first, so
    a trend across the phase, such as the JVM still compiling, does not
    enter the tracing overhead."""
    if not paired:
        return (False,)
    return (False, True) if i % 2 == 0 else (True, False)


def noop_write(df) -> None:
    """Materialize ``df`` completely without collecting it to the driver."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """In-memory spans (name, start, end, parent, op) around benchmark calls.

    Disabled tracers cost one attribute test per span.  Spans are written
    out once, by the workload, when the run ends.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _self(self) -> list[tuple[str | None, str, float]]:
        """(op, name, self time) per span: duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [(s["op"], s["name"], s["end"] - s["start"] - child[i])
                for i, s in enumerate(self.spans)]

    def self_times(self) -> dict[str, list[float]]:
        """Per span name: the list of self times."""
        out: dict[str, list[float]] = {}
        for _, name, t in self._self():
            out.setdefault(name, []).append(t)
        return out

    def per_op(self, name: str, op_prefix: str) -> float:
        """Median over ops named ``op_prefix`` of the summed self time of
        the ``name`` spans inside each op."""
        per: dict[str, float] = {}
        for op, n, t in self._self():
            if n == name and op and op.rsplit("-", 1)[0] == op_prefix:
                per[op] = per.get(op, 0.0) + t
        return median(list(per.values()))


class SparkProfile:
    """Per-op engine counters from the status stores, keyed by job group."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "gc_s",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "spill_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: list[dict] = []

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def finish(self, group: str, wall_s: float) -> dict:
        sc = self.sc
        tracker = sc.statusTracker()
        jids = tracker.getJobIdsForGroup(group)
        sids = set()
        for j in jids:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        rec = dict.fromkeys(self.FIELDS, 0)
        rec["jobs"] = len(jids)
        rec["stages"] = len(sids)
        store = sc._jsc.sc().statusStore()
        lst = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
        it = lst.iterator()
        while it.hasNext():
            st = it.next()
            if st.stageId() not in sids:
                continue
            rec["tasks"] += st.numTasks()
            rec["executor_run_s"] += st.executorRunTime() / 1000.0
            rec["gc_s"] += st.jvmGcTime() / 1000.0
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec["wall_s"] = wall_s
        rec["persisted_rdds_after_op"] = sc._jsc.getPersistentRDDs().size()
        rec["group"] = group
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(rec)
        return rec

    def summary(self) -> dict[str, float]:
        """Per-op medians of the counters, plus effective cores."""
        if not self.ops:
            return {f"spark.{k}": 0.0 for k in self.FIELDS} | {
                "spark.effective_cores": 0.0,
                "session.persisted_rdds_after_op": 0.0,
            }
        out = {f"spark.{k}": median([o[k] for o in self.ops]) for k in self.FIELDS}
        run = sum(o["executor_run_s"] for o in self.ops)
        wall = sum(o["wall_s"] for o in self.ops)
        out["spark.effective_cores"] = run / wall if wall else 0.0
        out["session.persisted_rdds_after_op"] = max(
            o["persisted_rdds_after_op"] for o in self.ops
        )
        return out


def release(spark) -> None:
    """Run hygiene after every op: free tracked and catalog caches."""
    from ub_etl_spark.session import release_persisted

    release_persisted()
    spark.catalog.clearCache()


class OpLoop:
    """Closed-loop timer for one workload's unit op.

    ``run(fn)`` times ``fn`` and releases caches afterwards (outside the
    timing).  It returns the op's time net of CPU steal
    (``net_of_steal``); ``history`` keeps it beside the raw wall time.  In
    a traced run the op also gets a job group, a root span and a
    status-store profile.  A raised exception counts as a failed op.
    """

    def __init__(self, spark, tracer: Tracer, profile: SparkProfile | None):
        self.spark = spark
        self.tracer = tracer
        self.profile = profile
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.history: list[tuple[str, float, float]] = []  # (name, net, wall)

    def run(self, name: str, fn, *args):
        self.attempted += 1
        op_id = f"{name}-{self.attempted}"
        traced = self.tracer.enabled
        if traced:
            self.tracer.op_id = op_id
            self.profile.start(op_id)
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn(*args)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.failed += 1
            self.errors.append(f"{op_id}: {type(e).__name__}: {e}")
            out = None
        wall = time.perf_counter() - t0
        dt = net_of_steal(wall, ticks0, cpu_ticks())
        self.history.append((name, dt, wall))
        release(self.spark)
        if traced:
            self.profile.finish(op_id, wall)
            self.tracer.op_id = None
        return dt, out


def write_trace(path: str, workload: str, seed: int, tracer: Tracer, profile, extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "spans": tracer.spans,
                "spark_ops": profile.ops if profile else [],
                **extra,
            },
            f,
        )


def print_block(workload: str, rows: list[tuple[str, float, str]]) -> None:
    """Human-readable metric table (name, value, unit) before the JSON line."""
    print(f"# {workload}")
    for name, value, unit in rows:
        print(f"  {name:<36s} {value:>14.6g} {unit}")
