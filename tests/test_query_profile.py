"""Smoke test of tools/query_profile.py: a query's build and execute jobs
come back from the status store, grouped by call site, each phase has
its JIT row, and its reps end in one build + execute wall line."""

from __future__ import annotations

import re
import sys
from pathlib import Path

from reduction_dask_spark.ml import GBT_ROUNDS
from reduction_dask_spark.registry import REGISTRY, load_all_operators
from tools.query_profile import by_site, profile

from .conftest import SF_SMALL


def test_profile_x1c_build_and_execute(spark, capsys):
    load_all_operators()
    (r,) = profile(spark, "x1c", REGISTRY["x1c_mda_importance_gbt"].fn, SF_SMALL, reps=1)
    rounds = sum(
        g["jobs"]
        for g in by_site(r["build"])
        if g["site"].startswith("toPandas at ml.py:")
    )
    assert rounds >= GBT_ROUNDS
    assert r["execute"]
    out = capsys.readouterr().out
    assert "driver-only" in out and "toPandas at ml.py:" in out
    for phase in ("build", "execute"):
        assert set(r[f"{phase}_jit"]) == {"jit_s", "codegen_classes", "codegen_s"}
        assert re.search(
            rf"^  jit {phase} +hotspot \d+\.\d\d s, janino \d+ classes \d+\.\d\d s$",
            out,
            re.MULTILINE,
        )
    wall = round(r["build_s"] + r["execute_s"], 2)
    assert re.search(
        rf"^x1c min={wall:.2f} med={wall:.2f} all=\[{wall}\]$", out, re.MULTILINE
    )


def test_no_tool_shadows_stdlib():
    """`python tools/X.py` puts tools/ first on sys.path, so a tool named
    like a stdlib module (profile.py) breaks every tool's pyspark import."""
    tools = Path(__file__).resolve().parent.parent / "tools"
    assert not {p.stem for p in tools.glob("*.py")} & sys.stdlib_module_names
