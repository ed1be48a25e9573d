"""The one-path rule: an alternative path survives only if a registered
query or a contract uses it. Every top-level function and class of the
package must be a registered ``@query``, be referenced by name from
package code or from a caller outside the tests (``bench.py``,
``__spark_entry__.py``, ``tools/``, ``perfbench/``), be named in
COVERAGE.md, or live in the ``api`` facade or the ``plans`` helpers.
A definition only tests reach belongs in the test that uses it."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "reduction_dask_spark"
EXEMPT = {"api.py", "plans"}  # the facade and the plan helpers


def _package_modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        if "vendor" not in path.relative_to(PACKAGE).parts:
            yield path


def _referenced_names(tree: ast.AST):
    """Every name a module loads, reads as an attribute or imports."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def test_every_package_definition_has_a_non_test_user():
    callers = [
        *_package_modules(),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
    ]
    used = {name for path in callers for name in _referenced_names(ast.parse(path.read_text()))}
    covered = set(re.findall(r"\w+", (REPO / "COVERAGE.md").read_text()))
    orphans = [
        f"{path.relative_to(PACKAGE)}:{node.name}"
        for path in _package_modules()
        if path.relative_to(PACKAGE).parts[0] not in EXEMPT
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not _is_query(node)
        and node.name not in used
        and node.name not in covered
    ]
    assert orphans == []


def _unused_imports(path: Path):
    """(line, name) of each name ``path`` imports but never loads.
    ``from __future__`` imports and lines marked ``# noqa: F401`` are
    deliberate and skipped."""
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    loaded = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            marked = any(
                "noqa: F401" in lines[i - 1] for i in (node.lineno, alias.lineno)
            )
            if name != "*" and name not in loaded and not marked:
                yield alias.lineno, name


def test_package_has_no_unused_imports():
    """Every import in the package is used. The re-export facades
    (``__init__.py``, ``api.py``) import for their callers."""
    unused = [
        f"{path.relative_to(PACKAGE)}:{line}: {name}"
        for path in _package_modules()
        if path.name not in ("__init__.py", "api.py")
        for line, name in _unused_imports(path)
    ]
    assert unused == []


# Footer readers, by the names code would call or look up: Spark's
# (through py4j) and pyarrow's.
FOOTER_READERS = {
    "ParquetFooterReader",
    "ParquetFileReader",
    "readFooter",
    "readSchemaFromFooter",
    "ParquetFile",
    "read_metadata",
    "read_schema",
}


def _infers_parquet_schema(call: ast.Call) -> bool:
    """A ``.parquet(...)`` call on a ``.read``/``.readStream`` chain
    with no ``.schema(...)`` in it: a read that makes Spark infer."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "schema":
                return False
            node = node.func
        elif node.attr in ("read", "readStream"):
            return True
        else:
            node = node.value
    return False


def _schema_reads(tree: ast.AST):
    """(line, what) of each parquet schema read in ``tree``: an
    inferring ``.read.parquet(...)`` or a footer reader, named in code
    or looked up by a string such as ``getattr(jvm, "pkg.Class")``."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and _infers_parquet_schema(n):
            yield n.lineno, ".read.parquet("
        name = (
            n.id if isinstance(n, ast.Name)
            else n.attr if isinstance(n, ast.Attribute)
            else n.value.rsplit(".", 1)[-1] if isinstance(n, ast.Constant) and isinstance(n.value, str)
            else None
        )
        if name in FOOTER_READERS:
            yield n.lineno, name


def test_one_schema_path():
    """Only ``sources`` reads a parquet schema: its footer read and
    the inference it defers to. Every other module takes schemas from
    ``sources.table_schema``/``load_table`` or passes its own."""
    sources = PACKAGE / "sources" / "__init__.py"
    assert list(_schema_reads(ast.parse(sources.read_text())))
    reads = [
        f"{path.relative_to(PACKAGE)}:{line}: {what}"
        for path in _package_modules()
        if path != sources
        for line, what in _schema_reads(ast.parse(path.read_text()))
    ]
    assert reads == []


def _strings(nodes: list[ast.AST]) -> set[str]:
    """Every string constant under ``nodes``."""
    return {
        n.value
        for node in nodes
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _scoring_paths(tree: ast.AST):
    """(line, what) of each piece of fold-model scoring in ``tree``: a
    coefficient table's ``intercept``/``weights`` DDL, a prediction's
    ``zip_with`` over ``weights``, a window ordered by ``pred`` and the
    CV frame ``kfold_era(supervised_frame(...))``."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if re.search(r"\b(intercept\s+double|weights\s+array)", n.value):
                yield n.lineno, "coefficient table"
        if not isinstance(n, ast.Call):
            continue
        name = _callee(n)
        if name == "zip_with" and "weights" in _strings(n.args):
            yield n.lineno, "prediction"
        elif name == "orderBy" and "pred" in _strings(n.args):
            yield n.lineno, "window ordered by pred"
        elif (
            name == "kfold_era"
            and n.args
            and isinstance(n.args[0], ast.Call)
            and _callee(n.args[0]) == "supervised_frame"
        ):
            yield n.lineno, "CV frame"


def test_one_scoring_path():
    """Only ``ml.py`` builds a CV frame, a coefficient table or a
    prediction; the era rank is ``functions.pct_rank_first``, so no
    module orders a window by ``pred`` itself. Every tuning, importance
    and reduction query scores through ``ml.cv_frame``,
    ``coef_frame``/``with_prediction`` and ``score_by_group``."""
    ml = PACKAGE / "ml.py"
    assert {what for _, what in _scoring_paths(ast.parse(ml.read_text()))} == {
        "coefficient table",
        "prediction",
        "CV frame",
    }
    copies = [
        f"{path.relative_to(PACKAGE)}:{line}: {what}"
        for path in _package_modules()
        if path != ml
        for line, what in _scoring_paths(ast.parse(path.read_text()))
    ]
    assert copies == []
