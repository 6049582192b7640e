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


def _scale_smoke():
    spec = importlib.util.spec_from_file_location(
        "scale_smoke", os.path.join(REPO, "tools", "scale_smoke.py")
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

    S = _scale_smoke()
    registry = load_all()
    sections = (S.RELATIONAL, S.GRAPH, S.CORPUS)
    labels = [label for cells in sections for label in cells]
    assert len(labels) == len(set(labels))
    missing = {n for cells in sections for n in cells.values() if n not in registry}
    assert not missing


def test_scale_tail_keeps_hand_kept_sections():
    S = _scale_smoke()
    text = "# T\n\n## Relational (2x)\n\n| a |\n\n## Corpus (2x)\n\nx\n\n## sf1 pass\n\nkept\n"
    assert S.hand_kept_tail(text) == "## sf1 pass\n\nkept\n"
    assert S.hand_kept_tail("# T\n\n## Graph (2x)\n") == ""


def test_scale_amplified_dirs_feed_one_cell_per_section(spark, sf_dir, tmp_path):
    """Amplify the fixture at K=2 and time one cell per section.  The
    cells read amplified facts beside copied dimensions (trade_balance),
    the disjoint-copy graph (triangle_count) and both corpus tables
    (hybrid_rrf_3q), so a finite ratio pins that each directory holds
    every table its builders read."""
    S = _scale_smoke()
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
