"""Source guard: each parity rule of the catalog has one owner.

The half-up and half-away snaps to scaled BIGINT and the exact
DECIMAL(38,0) cast live in ``functions/scalars.py``; the ranked top-k
tail (``cosine`` desc, ``neighbor_id`` asc) lives in
``operators/similarity.py``. A Column-API copy anywhere else in the
package would let one site drift from the DuckDB rule its oracle spells.
SQL text (oracle strings, ``F.expr``) is the independent reference and
is not checked for those rules.

The ANN pipeline has one owner per stage in ``operators/similarity.py``,
and two of them are checked here: the nearest-centroid window (a
``row_number`` ordered by ``_sim`` desc, :func:`_nearest_lists`) and the
SQL ranked tail (``QUALIFY rank <=``, :func:`sql_ranked_topk`). Each
appears exactly once, in its owner. The Python replay of Spark's
``F.round`` (``Decimal(repr(x))`` quantized half-up) lives in
``tables.spark_round``.

On the oracle side, ``tables.py`` owns the DuckDB reader
(``duck_connection``) and the literal-relation renderer (``values_sql``):
a ``duckdb.connect(`` or ``duckdb.sql(`` call, or a rendered
``FROM (VALUES ...) AS t(...)`` relation, anywhere else in the package
fails. Static literal tables that name no columns of their own, such as
the CTE ``ct(u, x, c) AS (VALUES ...)`` or ``SELECT 'y', * FROM (VALUES
...)`` inside one, are not checked."""

from __future__ import annotations

import ast
import re

from tests.conftest import REPO

PACKAGE = REPO / "stock_streaming_data_pipeline_spark"
OWNERS = {
    "snap": PACKAGE / "functions" / "scalars.py",
    "dec38": PACKAGE / "functions" / "scalars.py",
    "topk": PACKAGE / "operators" / "similarity.py",
    "duckdb": PACKAGE / "tables.py",
    "values": PACKAGE / "tables.py",
    "probe": PACKAGE / "operators" / "similarity.py",
    "qualify": PACKAGE / "operators" / "similarity.py",
    "decimal_repr": PACKAGE / "tables.py",
}
# Rules whose owner spells them in one helper only.
SINGLE_SITE = ("probe", "qualify")


def _is_f(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _is_half(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == 0.5
    return _is_f(node, "lit") and len(node.args) == 1 and _is_half(node.args[0])


def _is_snap(node: ast.AST) -> bool:
    """``F.floor(x + 0.5)`` with either operand the half."""
    if not (_is_f(node, "floor") and len(node.args) == 1):
        return False
    a = node.args[0]
    return (
        isinstance(a, ast.BinOp)
        and isinstance(a.op, ast.Add)
        and (_is_half(a.left) or _is_half(a.right))
    )


def _is_dec38(node: ast.AST) -> bool:
    """``<x>.cast("decimal(38,0)")`` or ``DecimalType(38, 0)``."""
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
    args = [a.value for a in node.args if isinstance(a, ast.Constant)]
    if name == "cast":
        return (
            len(args) == 1
            and isinstance(args[0], str)
            and "".join(args[0].lower().split()) == "decimal(38,0)"
        )
    return name == "DecimalType" and args == [38, 0]


def _names(node: ast.AST) -> set[str]:
    return {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _is_desc(node: ast.AST, col: str) -> bool:
    """``F.desc(col)`` or ``F.col(col).desc()``."""
    if _is_f(node, "desc"):
        return _names(node) == {col}
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "desc"
        and _names(node.func.value) == {col}
    )


def _is_cosine_desc(node: ast.AST) -> bool:
    return _is_desc(node, "cosine")


def _is_probe_order(node: ast.AST) -> bool:
    """``.orderBy(<_sim desc>, ...)``: the nearest-centroid ranking."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "orderBy"
        and any(_is_desc(a, "_sim") for a in node.args)
    )


def _is_decimal_repr(node: ast.AST) -> bool:
    """``Decimal(repr(x))``."""
    return (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "Decimal"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Call)
        and getattr(node.args[0].func, "id", None) == "repr"
    )


def _is_topk_order(node: ast.AST) -> bool:
    """``.orderBy(<cosine desc>, ..."neighbor_id"...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "orderBy"
        and any(_is_cosine_desc(a) for a in node.args)
        and any("neighbor_id" in _names(a) for a in node.args)
    )


def _is_duckdb(node: ast.AST) -> bool:
    """``duckdb.connect(...)`` or ``duckdb.sql(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("connect", "sql")
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "duckdb"
    )


# FROM (VALUES <rows>) AS t(...), where <rows> is a computed part ("{}")
# or literal tuples.
_VALUES_RELATION = re.compile(
    r"\bFROM\s*\(\s*VALUES\s*(\{\}|\([^()]*\)(\s*,\s*\([^()]*\))*)\s*\)"
    r"\s*AS\s+\w+\s*\(",
    re.IGNORECASE,
)


def _sql_text(node: ast.AST) -> str | None:
    """The text of a string expression with "{}" for each computed part:
    a str constant, an f-string, or a ``+`` chain holding either."""
    if isinstance(node, ast.Constant):
        return node.value if isinstance(node.value, str) else None
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        left, right = _sql_text(node.left), _sql_text(node.right)
        if left is None and right is None:
            return None
        return (left or "{}") + (right or "{}")
    return None


def _is_values_relation(node: ast.AST) -> bool:
    """A string expression holding ``FROM (VALUES <rows>) AS t(``."""
    text = _sql_text(node)
    return text is not None and _VALUES_RELATION.search(text) is not None


_QUALIFY_RANK = re.compile(r"\bQUALIFY\s+rank\s*<=", re.IGNORECASE)


def _is_qualify_tail(node: ast.AST) -> bool:
    """A string expression holding ``QUALIFY rank <=``."""
    text = _sql_text(node)
    return text is not None and _QUALIFY_RANK.search(text) is not None


_RULES = {
    "snap": _is_snap,
    "dec38": _is_dec38,
    "topk": _is_topk_order,
    "duckdb": _is_duckdb,
    "values": _is_values_relation,
    "probe": _is_probe_order,
    "qualify": _is_qualify_tail,
    "decimal_repr": _is_decimal_repr,
}


def parity_rule_sites(source: str) -> list[tuple[str, int]]:
    """(rule, line) for every spelling of a parity rule; a string and the
    parts it is built from count once."""
    return sorted(
        {
            (rule, n.lineno)
            for n in ast.walk(ast.parse(source))
            for rule, hit in _RULES.items()
            if hit(n)
        }
    )


def test_each_parity_rule_is_spelled_only_by_its_owner():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        found += [
            f"{path.relative_to(REPO)}:{ln} {rule}"
            for rule, ln in parity_rule_sites(path.read_text())
            if OWNERS[rule] != path
        ]
    assert found == []


def test_each_owner_spells_its_rule():
    for rule, owner in OWNERS.items():
        assert rule in {r for r, _ in parity_rule_sites(owner.read_text())}


def test_each_ann_stage_has_one_site():
    for rule in SINGLE_SITE:
        sites = parity_rule_sites(OWNERS[rule].read_text())
        assert [r for r, _ in sites].count(rule) == 1, rule


def test_guard_flags_planted_copies():
    src = (
        "cents = F.floor(F.col('value') * 100 + F.lit(0.5)).cast('long')\n"
        "s = F.sum(x.cast('decimal(38, 0)'))\n"
        "w = Window.partitionBy('query_id').orderBy(\n"
        "    F.col('cosine').desc(), F.asc('neighbor_id')\n"
        ")\n"
        "ok = half_up('value', 2) + dec38(F.col('n'))\n"
        "sql = F.expr('CAST(floor(v * 100 + 0.5) AS DECIMAL(38,0))')\n"
        "bins = F.floor(F.col('v') / 10)\n"
        "by_doc = df.orderBy(F.desc('cosine'), F.asc('doc'))\n"
        "t = DecimalType(38, 0)\n"
        "con = duckdb.connect()\n"
        "rows = duckdb.sql('SELECT 1').fetchall()\n"
        "sql = f'SELECT a\\nFROM (VALUES\\n{rows}\\n) AS t(a)'\n"
        "dct = f'WITH ct(u, x, c) AS (VALUES {_DCT_VALUES}),'\n"
        "pats = f'WITH pats(pattern) AS (VALUES {_MP_VALUES})'\n"
        "q = f\"qmat(ch, u, v, q) AS (SELECT 'y', * FROM (VALUES {qvals}))\"\n"
        "rel = values_sql('a BIGINT', rows)\n"
        "con = duck_connection(sf_dir)\n"
        "q = con.sql('SELECT * FROM lineitem')\n"
    )
    assert parity_rule_sites(src) == [
        ("dec38", 2),
        ("dec38", 10),
        ("duckdb", 11),
        ("duckdb", 12),
        ("snap", 1),
        ("topk", 3),
        ("values", 13),
    ]
    # the parent's hand renderers: f-string, implicit and ``+`` concatenation
    renderers = (
        "a = f'FROM (VALUES\\n{values}\\n) AS t(doc_a, doc_b, jaccard)'\n"
        "b = ('FROM (VALUES' f' {vals}) AS t(component, n_nodes)')\n"
        "c = 'x FROM (VALUES ' + ', '.join(vals) + ') AS t(round, doc_id)'\n"
        "d = f'FROM (VALUES ({n_rows}, {ols_b}))\\n AS t(n_rows, ols)'\n"
    )
    assert parity_rule_sites(renderers) == [("values", n) for n in (1, 2, 3, 4)]
    # the ANN stage owners and the F.round replay, each beside near-misses
    ann = (
        "w = Window.partitionBy(key).orderBy(F.desc('_sim'), F.asc('_cid'))\n"
        "w1 = Window.partitionBy('query_id').orderBy(F.col('_sim').desc())\n"
        "tail = f'FROM scored\\nQUALIFY rank <= {k}\\n'\n"
        "j6 = float(Decimal(repr(j)).quantize(q6, rounding=ROUND_HALF_UP))\n"
        "short = Window.partitionBy('query_id').orderBy(\n"
        "    F.desc('approx'), F.asc('neighbor_id')\n"
        ")\n"
        "top = Window.partitionBy('query_id').orderBy(\n"
        "    F.desc('cosine'), F.asc('neighbor_id')\n"
        ")\n"
        "sub = Window.partitionBy('query_id', 'm').orderBy(F.asc('_d'), F.asc('code'))\n"
        "asc = df.orderBy(F.asc('_sim'))\n"
        "brute = f'SELECT * FROM ranked WHERE rank <= {k}'\n"
        "first = 'SELECT * FROM t QUALIFY rn = 1'\n"
        "x = Decimal(str(j))\n"
        "y = spark_round(j, 6)\n"
    )
    assert parity_rule_sites(ann) == [
        ("decimal_repr", 4),
        ("probe", 1),
        ("probe", 2),
        ("qualify", 3),
        ("topk", 8),
    ]
