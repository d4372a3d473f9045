"""Source guard: every batch read of a testdata table goes through
``tables.read_parquet`` (its schema cache). A ``spark.read.parquet``
over a ``table_path(...)`` anywhere else would bring back the per-load
schema-inference job."""

from __future__ import annotations

import ast

from tests.conftest import REPO

PACKAGE = REPO / "stock_streaming_data_pipeline_spark"


def _is_table_path_call(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == "table_path") or (
        isinstance(f, ast.Attribute) and f.attr == "table_path"
    )


def _is_batch_parquet_read(node: ast.Call) -> bool:
    """``<x>.read[.option(...)...].parquet(...)``."""
    f = node.func
    if not (isinstance(f, ast.Attribute) and f.attr == "parquet"):
        return False
    cur = f.value
    while isinstance(cur, (ast.Call, ast.Attribute)):
        if isinstance(cur, ast.Attribute) and cur.attr == "read":
            return True
        cur = cur.func if isinstance(cur, ast.Call) else cur.value
    return False


def _scope_violations(scope: ast.AST) -> list[int]:
    tainted = {
        t.id
        for n in ast.walk(scope)
        if isinstance(n, ast.Assign) and _is_table_path_call(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return [
        n.lineno
        for n in ast.walk(scope)
        if isinstance(n, ast.Call)
        and _is_batch_parquet_read(n)
        and any(
            _is_table_path_call(a) or (isinstance(a, ast.Name) and a.id in tainted)
            for a in n.args
        )
    ]


def table_reads_outside_helper(source: str, *, is_tables_module: bool) -> list[int]:
    tree = ast.parse(source)
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    module_level = ast.Module(
        [n for n in tree.body if not isinstance(n, defs)], type_ignores=[]
    )
    scopes = [module_level] + [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not (is_tables_module and n.name == "read_parquet")
    ]
    return sorted({ln for s in scopes for ln in _scope_violations(s)})


def test_no_table_read_bypasses_the_schema_cache():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = table_reads_outside_helper(
            path.read_text(), is_tables_module=path == PACKAGE / "tables.py"
        )
        found += [f"{path.relative_to(REPO)}:{ln}" for ln in lines]
    assert found == []


def test_guard_flags_a_direct_table_read():
    src = (
        "top = spark.read.parquet(table_path(SF, 'region'))\n"
        "def f(spark, sf):\n"
        "    p = table_path(sf, 'orders')\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('mergeSchema', 'true').parquet(tables.table_path(sf, 'x'))\n"
        "    c = spark.readStream.schema(s).parquet(p)\n"
        "    return read_parquet(spark, p)\n"
    )
    assert table_reads_outside_helper(src, is_tables_module=False) == [1, 4, 5]
