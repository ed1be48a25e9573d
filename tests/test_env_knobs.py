"""The environment knobs: the package reads exactly four names and the
tools three, and the knob with a fixed value set rejects anything
else."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from reduction_dask_spark.caching import barrier_mode

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "reduction_dask_spark"
KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_BARRIER",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_DRIVER_MEMORY",
}
# A tool's session takes its cores from session.default_cpus; PYTHONPATH
# is no knob: query_profile forwards its own checkout to Python workers.
TOOL_KNOBS = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BARRIER", "PYTHONPATH"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(tree: ast.AST):
    """Env names read by ``os.environ.get(k)``, ``os.getenv(k)``,
    ``os.environ[k]`` and ``k in os.environ``; a key held in a
    module-level string constant is resolved, any other key is
    reported as unresolved."""
    consts = {
        t.id: n.value.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
        for t in n.targets
        if isinstance(t, ast.Name)
    }

    def key(node):
        if isinstance(node, ast.Constant):
            return node.value
        if isinstance(node, ast.Name) and node.id in consts:
            return consts[node.id]
        return f"<unresolved {ast.unparse(node)}>"

    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and n.args and isinstance(n.func, ast.Attribute):
            if n.func.attr == "getenv" or (
                n.func.attr in ("get", "pop", "setdefault") and _is_environ(n.func.value)
            ):
                yield key(n.args[0])
        elif isinstance(n, ast.Subscript) and _is_environ(n.value):
            yield key(n.slice)
        elif isinstance(n, ast.Compare) and any(map(_is_environ, n.comparators)):
            yield key(n.left)


def test_package_reads_only_known_env_knobs():
    read = {
        name
        for path in PACKAGE.rglob("*.py")
        if "vendor" not in path.relative_to(PACKAGE).parts
        for name in _env_reads(ast.parse(path.read_text()))
    }
    assert read == KNOBS


def test_tools_read_only_known_env_knobs():
    read = {
        name
        for path in (REPO / "tools").glob("*.py")
        for name in _env_reads(ast.parse(path.read_text()))
    }
    assert read == TOOL_KNOBS


def test_barrier_mode_rejects_unknown_value(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BARRIER", "locl")
    with pytest.raises(ValueError, match="SPARK_GRAFT_BARRIER"):
        barrier_mode()
