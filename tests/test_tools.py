"""The tools under tools/: each imports and writes the checkout it lives
in, and the scale tool measures registered queries on amplified copies
that hold every table those queries read."""

from __future__ import annotations

import importlib.util
import math
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "tool", ["parity", "explain_audit", "bounds", "schema_audit", "sf1_parity", "scale_smoke"]
)
def test_tool_imports_the_checkout_it_lives_in(tool, tmp_path):
    """Run the tool's module-level code (its import preamble, not main())
    from a copied tree: the engine package it imports is the copy's, so
    a parent-vs-change comparison from a clone tests two different
    trees."""
    tree = tmp_path / "tree"
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(os.path.join(REPO, "ub_etl_spark"), tree / "ub_etl_spark", ignore=ignore)
    shutil.copytree(os.path.join(REPO, "tools"), tree / "tools", ignore=ignore)
    shutil.copy(os.path.join(REPO, "bench.py"), tree / "bench.py")
    elsewhere = tmp_path / "cwd"
    elsewhere.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import runpy, sys; runpy.run_path(sys.argv[1]);"
            "import ub_etl_spark; print(ub_etl_spark.__file__)",
            str(tree / "tools" / f"{tool}.py"),
        ],
        cwd=elsewhere,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == str(tree / "ub_etl_spark" / "__init__.py")


def test_scale_cells_name_registered_queries():
    from ub_etl_spark.registry import load_all

    S = _tool("scale_smoke")
    registry = load_all()
    sections = (S.RELATIONAL, S.GRAPH, S.CORPUS)
    labels = [label for cells in sections for label in cells]
    assert len(labels) == len(set(labels))
    missing = {n for cells in sections for n in cells.values() if n not in registry}
    assert not missing


def test_scale_tail_keeps_hand_kept_sections():
    S = _tool("scale_smoke")
    text = "# T\n\n## Relational (2x)\n\n| a |\n\n## Corpus (2x)\n\nx\n\n## sf1 pass\n\nkept\n"
    assert S.hand_kept_tail(text) == "## sf1 pass\n\nkept\n"
    assert S.hand_kept_tail("# T\n\n## Graph (2x)\n") == ""
    # PLANS.md: the digest table is generated, the floor analysis is kept
    plans = "# P\n\n## Plan shapes (sf0.01)\n\n| q |\n\n## Floor  \n\n| a |\n- x\n\n"
    assert S.hand_kept_tail(plans, ("## Plan shapes",)) == "## Floor  \n\n| a |\n- x\n\n"


def test_scale_amplified_dirs_feed_one_cell_per_section(spark, sf_dir, tmp_path):
    """Amplify the fixture at K=2 and time one cell per section.  The
    cells read amplified facts beside copied dimensions (trade_balance),
    the disjoint-copy graph (triangle_count) and both corpus tables
    (hybrid_rrf_3q), so a finite ratio pins that each directory holds
    every table its builders read."""
    S = _tool("scale_smoke")
    big = str(tmp_path / "big")
    S.amplify_all(spark, sf_dir, big, 2, 2, 2)
    assert (
        spark.read.parquet(f"{big}/lineitem.parquet").count()
        == 2 * spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    )
    for cells, label, dk in (
        (S.RELATIONAL, "trade_balance", big),
        (S.GRAPH, "triangle_count", os.path.join(big, "graph")),
        (S.CORPUS, "hybrid_rrf_3q", big),
    ):
        [row] = S.measure(spark, {label: cells[label]}, sf_dir, dk, 2)
        ratio = float(row.split("|")[4].strip().removesuffix("x"))
        assert math.isfinite(ratio) and ratio > 0, row


# A two-core run's executed plan (arguments cut to 76 columns): a
# broadcast join whose build side scans an InMemoryRelation holding its
# own adaptive plan.  Each adaptive plan prints a final and an initial
# section; the nested one is indented by its depth in its own tree.
PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(3) Project [k#19L, count#20L, n#2L]
      +- *(3) BroadcastHashJoin [k#19L], [k#1L], Inner, BuildRight, false
         :- *(3) HashAggregate(keys=[_groupingexpression#53L], functions=[co
         :  +- AQEShuffleRead coalesced
         :     +- ShuffleQueryStage 0
         :        +- Exchange hashpartitioning(_groupingexpression#53L, 2),
         :           +- *(1) HashAggregate(keys=[_groupingexpression#53L], f
         :              +- *(1) Project [(id#18L % 7) AS _groupingexpression
         :                 +- *(1) Filter isnotnull((id#18L % 7))
         :                    +- *(1) Range (0, 100, step=1, splits=2)
         +- BroadcastQueryStage 2
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, b
               +- *(2) Filter isnotnull(k#1L)
                  +- TableCacheQueryStage 1
                     +- InMemoryTableScan [k#1L, n#2L], [isnotnull(k#1L)]
                           +- InMemoryRelation [k#1L, n#2L], StorageLevel(di
                                 +- AdaptiveSparkPlan isFinalPlan=true
                                 +- == Final Plan ==
                                    ResultQueryStage 1
                                    +- *(2) HashAggregate(keys=[_groupingexp
                                       +- ShuffleQueryStage 0
                                          +- Exchange hashpartitioning(_grou
                                             +- *(1) HashAggregate(keys=[_gr
                                                +- *(1) Project [(id#0L % 5)
                                                   +- *(1) Range (0, 20, ste
                                 +- == Initial Plan ==
                                    HashAggregate(keys=[_groupingexpression#
                                    +- Exchange hashpartitioning(_groupingex
                                       +- HashAggregate(keys=[_groupingexpre
                                          +- Project [(id#0L % 5) AS _groupi
                                             +- Range (0, 20, step=1, splits
+- == Initial Plan ==
   Project [k#19L, count#20L, n#2L]
   +- BroadcastHashJoin [k#19L], [k#1L], Inner, BuildRight, false
      :- HashAggregate(keys=[_groupingexpression#53L], functions=[count(1)],
      :  +- Exchange hashpartitioning(_groupingexpression#53L, 2), ENSURE_RE
      :     +- HashAggregate(keys=[_groupingexpression#53L], functions=[part
      :        +- Project [(id#18L % 7) AS _groupingexpression#53L]
      :           +- Filter isnotnull((id#18L % 7))
      :              +- Range (0, 100, step=1, splits=2)
      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint,
         +- Filter isnotnull(k#1L)
            +- InMemoryTableScan [k#1L, n#2L], [isnotnull(k#1L)]
                  +- InMemoryRelation [k#1L, n#2L], StorageLevel(disk, memor
                        +- AdaptiveSparkPlan isFinalPlan=true
                        +- == Final Plan ==
                           ResultQueryStage 1
                           +- *(2) HashAggregate(keys=[_groupingexpression#5
                              +- ShuffleQueryStage 0
                                 +- Exchange hashpartitioning(_groupingexpre
                                    +- *(1) HashAggregate(keys=[_groupingexp
                                       +- *(1) Project [(id#0L % 5) AS _grou
                                          +- *(1) Range (0, 20, step=1, spli
                        +- == Initial Plan ==
                           HashAggregate(keys=[_groupingexpression#5L], func
                           +- Exchange hashpartitioning(_groupingexpression#
                              +- HashAggregate(keys=[_groupingexpression#5L]
                                 +- Project [(id#0L % 5) AS _groupingexpress
                                    +- Range (0, 20, step=1, splits=2)
"""


def test_plan_digest_counts_the_final_plan_only():
    """Operators of both final sections count, also inside the cached
    relation; the initial sections, AQEShuffleRead, query-stage wrappers
    and AdaptiveSparkPlan do not, and ``*(n)`` codegen prefixes are
    dropped."""
    digest = _tool("explain_audit").plan_digest(PLAN)
    assert digest == (
        "BroadcastExchange=1 BroadcastHashJoin=1 Exchange=2 Filter=2"
        " HashAggregate=4 InMemoryRelation=1 InMemoryTableScan=1 Project=3 Range=2"
    )
