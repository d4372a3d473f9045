"""Source guard against dead code: every top-level function or class in
the package must be reached from a product surface, or be allowlisted
below with the reason it stays.

"Reached" means referenced by name (a load, an attribute or an import)
from the package itself outside its own definition, from
``__spark_entry__.py``, ``bench.py`` or a non-test ``perfbench/*.py``.
A ``@register`` decorator counts: the catalog registry is what
``__spark_entry__.queries()`` walks. Tests and ``tools/`` do not count,
so a helper that only its own test calls is flagged."""

from __future__ import annotations

import ast
from collections import Counter
from collections.abc import Mapping

from tests.conftest import REPO

PACKAGE = REPO / "stock_streaming_data_pipeline_spark"

_KAFKA = "reference-parity Kafka/Avro builder (COVERAGE S1-S5); needs connector jars"
_SINK_API = "upsert sink API named in README's migration table"
_REFERENCE = "reference implementation the tests compare the operator against"

# "<path relative to the package>::<name>" -> why it stays unreached
ALLOWLIST: dict[str, str] = {
    "sources/kafka.py::read_stream": _KAFKA,
    "sources/kafka.py::json_value_stream": _KAFKA,
    "sources/kafka.py::write_stream": _KAFKA,
    "sources/avro_codec.py::avro_available": _KAFKA,
    "sources/avro_codec.py::decode_trades": _KAFKA,
    "sources/avro_codec.py::encode_trades": _KAFKA,
    "sources/avro_binary.py::encode_message": _KAFKA,
    "sources/avro_binary.py::decode_message": _KAFKA,
    "sources/avro_binary.py::decode_envelopes_py": _KAFKA,
    "sources/avro_binary.py::encode_envelopes_py": _KAFKA,
    "sources/avro_binary.py::trades_from_message": _KAFKA,
    "sources/trades.py::to_envelopes": _KAFKA,
    "sources/trades.py::explode_envelopes": _KAFKA,
    "operators/inference.py::autoregressive_rollout": (
        "predictor-sidecar parity: the LSTM rollout (COVERAGE UD2)"
    ),
    "operators/inference.py::align_predictions": (
        "predictor-sidecar parity: the btc_predict INSERT/UPDATE alignment"
    ),
    "pipeline.py::StockPipeline": (
        "public entry for the reference's StreamingJob (README migration table)"
    ),
    "streaming/sinks.py::tombstone_writer": _SINK_API,
    "operators/mst.py::prim_total_weight": _REFERENCE,
    "operators/skyline.py::brute_force_skyline": _REFERENCE,
    "operators/jpeg_codec.py::reference_transform": _REFERENCE,
    "operators/jpeg_codec.py::reference_transform_color": _REFERENCE,
    "operators/lrquality.py::_features": _REFERENCE,
    "operators/similarity.py::pq_reconstruction_error": _REFERENCE,
    "operators/similarity.py::sql_ivf_topk": _REFERENCE,
    "operators/graph.py::sql_pagerank": _REFERENCE,
    "operators/multimodal.py::decode_image": _REFERENCE,
    "operators/asof.py::asof_join_salted": (
        "measured by tools/skew_probe.py; choosing it from observed skew is open"
    ),
}


def _names(node: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "register":
            return True
    return False


def unreached(package: Mapping[str, str], surfaces: list[str]) -> list[str]:
    """``<relpath>::<name>`` of every top-level def or class in
    ``package`` (relpath -> source) that nothing in ``package`` or
    ``surfaces`` references outside the definition itself."""
    trees = {rel: ast.parse(src) for rel, src in package.items()}
    total: Counter = Counter()
    for tree in [*trees.values(), *(ast.parse(s) for s in surfaces)]:
        total += _names(tree)
    dead = []
    for rel, tree in sorted(trees.items()):
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if _registered(node):
                continue
            if total[node.name] - _names(node)[node.name] <= 0:
                dead.append(f"{rel}::{node.name}")
    return dead


def _repo_sources() -> tuple[dict[str, str], list[str]]:
    package = {
        p.relative_to(PACKAGE).as_posix(): p.read_text()
        for p in sorted(PACKAGE.rglob("*.py"))
    }
    surfaces = [
        p.read_text()
        for p in [
            REPO / "__spark_entry__.py",
            REPO / "bench.py",
            *sorted((REPO / "perfbench").glob("*.py")),
        ]
        if not p.name.startswith("test_")
    ]
    return package, surfaces


def test_every_package_definition_is_reached_or_allowlisted():
    dead = set(unreached(*_repo_sources()))
    new_dead = sorted(dead - ALLOWLIST.keys())
    assert not new_dead, (
        "unreached top-level definitions (delete them, or allowlist each "
        f"with its reason): {new_dead}"
    )
    # an allowlist entry whose definition is gone or now reached is stale
    stale = sorted(ALLOWLIST.keys() - dead)
    assert not stale, f"stale ALLOWLIST entries: {stale}"


def test_guard_flags_a_planted_dead_def():
    package = {
        "ops.py": (
            "def used(x):\n    return x\n\n"
            "def dead(x):\n    return dead(x - 1) if x else used(x)\n\n"
            "class Orphan:\n    pass\n"
        ),
        "plans.py": (
            "from ops import used\n\n"
            "@register('q')\ndef query(spark):\n    return used(spark)\n"
        ),
    }
    # the self-call inside dead() does not count as a reference
    assert unreached(package, []) == ["ops.py::dead", "ops.py::Orphan"]
    assert unreached(package, ["import ops\nops.dead(1)\nOrphan()\n"]) == []
