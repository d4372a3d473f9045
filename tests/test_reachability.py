"""Source guards against dead code, each with an allowlist of the
survivors and the reason each stays:

- every top-level function or class in the package must be reached from
  a product surface;
- every defaulted parameter of a package function or method that selects
  a branch (it appears in an ``if``/``while`` test, a conditional
  expression or a boolean operator) must be set by some product call.
  An option only tests select is a second code path no query runs.

"Reached" means referenced by name (a load, an attribute or an import)
from the package itself outside its own definition, from
``__spark_entry__.py``, ``bench.py`` or a non-test ``perfbench/*.py``.
A ``@register`` decorator counts: the catalog registry is what
``__spark_entry__.queries()`` walks. Tests and ``tools/`` do not count,
so a helper or an option that only its own test uses is flagged."""

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
}

_FAKE = "tests inject a fake in place of the real dependency"
_FAILPOINT = "compaction failpoint: tests crash the compaction at this step"
_PIPELINE_API = "StockPipeline public API (README migration table)"

# "<path relative to the package>::<function>(<option>=)" -> why no
# product call sets the option
OPTION_ALLOWLIST: dict[str, str] = {
    "operators/inference.py::score(model=)": _FAKE,
    "operators/inference.py::sql_score(model=)": _FAKE,
    "operators/inference.py::autoregressive_rollout(model=)": _FAKE,
    "streaming/monitor.py::ProgressCollector.watermark_lag_seconds(now=)": _FAKE,
    "streaming/sinks.py::compact_upsert_table(_crash_before_manifest=)": _FAILPOINT,
    "streaming/sinks.py::compact_upsert_table(_crash_after_publish=)": _FAILPOINT,
    "pipeline.py::StockPipeline.__init__(spark=)": _PIPELINE_API,
    "pipeline.py::StockPipeline.run(blocking=)": _PIPELINE_API,
    "pipeline.py::StockPipeline.run(available_now=)": _PIPELINE_API,
    "streaming/jobs.py::FanOut.await_any(timeout_s=)": _PIPELINE_API,
    "sources/avro_binary.py::trades_from_message(unit=)": (
        _KAFKA + "; 'ms' decodes the reference producer's epoch millis"
    ),
    "streaming/state.py::trailing_lookback(emit_ready_only=)": (
        "reference parity: the predictor's 100-row readiness gate"
    ),
    "operators/jpeg_codec.py::encode_jpeg(restart_interval=)": (
        "the only generator of restart-marked input for the decoder's "
        "external-payload path"
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


def _callee(f: ast.AST) -> str | None:
    """The name a call or decorator target ends in: ``f`` or ``x.f``."""
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        if _callee(d.func if isinstance(d, ast.Call) else d) == "register":
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


def _functions(tree: ast.Module):
    """(qualified name, name calls use, def, positional shift) of every
    top-level function and method. A call to ``C(...)`` reaches
    ``C.__init__``; a method's positional arguments start after
    ``self``."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node.name, node, 0
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                static = any(
                    getattr(d, "id", None) == "staticmethod"
                    for d in m.decorator_list
                )
                called = node.name if m.name == "__init__" else m.name
                yield f"{node.name}.{m.name}", called, m, 0 if static else 1


def _defaulted(fn: ast.FunctionDef) -> dict[str, int | None]:
    """Parameters with a default -> positional index (None: keyword-only)."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    out: dict[str, int | None] = {p.arg: i for i, p in enumerate(pos) if i >= first}
    out.update(
        {p.arg: None for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    )
    return out


def _branch_names(fn: ast.FunctionDef) -> set[str]:
    """Names read by an if/while test, a conditional expression or a
    boolean operator anywhere in ``fn``."""
    tests: list[ast.AST] = []
    for n in ast.walk(fn):
        if isinstance(n, (ast.If, ast.While, ast.IfExp)):
            tests.append(n.test)
        elif isinstance(n, ast.BoolOp):
            tests.extend(n.values)
    return {m.id for t in tests for m in ast.walk(t) if isinstance(m, ast.Name)}


def _sets(call: ast.Call, param: str, index: int | None) -> bool:
    """Whether ``call`` may pass ``param`` (``*args``/``**kw`` count)."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if index is None:
        return False
    return len(call.args) > index or any(
        isinstance(a, ast.Starred) for a in call.args
    )


def unset_options(package: Mapping[str, str], surfaces: list[str]) -> list[str]:
    """``<relpath>::<function>(<param>=)`` of every defaulted parameter in
    ``package`` that selects a branch of its function and that no call
    in ``package`` or ``surfaces`` passes, by keyword or by position."""
    trees = {rel: ast.parse(src) for rel, src in package.items()}
    calls: dict[str, list[ast.Call]] = {}
    for tree in [*trees.values(), *(ast.parse(s) for s in surfaces)]:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                calls.setdefault(_callee(n.func), []).append(n)
    unset = []
    for rel, tree in sorted(trees.items()):
        for qual, called, fn, shift in _functions(tree):
            branching = _branch_names(fn)
            for param, index in _defaulted(fn).items():
                if param not in branching:
                    continue
                at = None if index is None else index - shift
                if not any(_sets(c, param, at) for c in calls.get(called, [])):
                    unset.append(f"{rel}::{qual}({param}=)")
    return unset


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


def test_every_branching_option_is_set_by_a_product_surface():
    unset = set(unset_options(*_repo_sources()))
    new_unset = sorted(unset - OPTION_ALLOWLIST.keys())
    assert not new_unset, (
        "options no product call sets (delete the option and the branch it "
        f"selects, or allowlist each with its reason): {new_unset}"
    )
    # an allowlist entry whose option is gone or now set is stale
    stale = sorted(OPTION_ALLOWLIST.keys() - unset)
    assert not stale, f"stale OPTION_ALLOWLIST entries: {stale}"


def test_guard_flags_a_planted_test_only_option():
    package = {
        "ops.py": (
            "def scan(df, *, fast=False, n=3):\n"
            "    return df.fast(n) if fast else df.slow(n)\n\n"
            "def pick(df, mode=None):\n"
            "    if mode and df:\n        return mode\n    return df\n\n"
            "class Sink:\n"
            "    def __init__(self, path, strict=False):\n"
            "        self.strict = strict or path\n\n"
            "    def write(self, df, flush=True):\n"
            "        while flush:\n            flush = df\n"
        ),
        "plans.py": (
            "from ops import Sink, pick, scan\n\n"
            "def query(df):\n"
            "    Sink('p').write(df)\n"
            "    return pick(scan(df, n=4), 'x')\n"
        ),
    }
    # n selects no branch; pick's mode is passed by position
    assert unset_options(package, []) == [
        "ops.py::scan(fast=)",
        "ops.py::Sink.__init__(strict=)",
        "ops.py::Sink.write(flush=)",
    ]
    surface = (
        "from ops import Sink, scan\n"
        "scan(1, fast=True)\nSink('p', 1).write(1, 0)\n"
    )
    assert unset_options(package, [surface]) == []
