"""Registry mechanics: rotation of the driver's correctness window, the
registry's key/function bindings, and the layout of the operator and test
modules.

The external driver checks the FIRST 50 names in queries() order each round.
`all_queries()` therefore orders names without a green driver row first, by
reading past CORRECTNESS_r*.json artifacts — across rounds this converges to
full hard verification with no hand-maintained lists.
"""

from __future__ import annotations

import ast
import importlib
import json
import re
import types
from pathlib import Path

import pytest

from mongodb_nats_connector_spark import operators, registry

# The six queries written against ``double_sum``; every other ``_dsum``
# caller sums with ``decimal_sum`` (operators/double_sums.py says why).
DOUBLE_SUM_QUERIES = {
    "orders_ols_multifactor",
    "agg_jarque_bera",
    "events_weibull_gaps",
    "agg_kendall_tau",
    "agg_roc_auc",
    "docs_simpson_diversity",
}
# one-name re-exports kept for digested bodies that import them by module
SHIMS = {
    "pipeline8": "_valued_events_prepost",
    "pipeline10": "_minplus_distances",
    "pipeline14": "_le_hex",
}


def test_driver_verified_parses_artifacts(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "green": {"hash_match": True, "rows_match": True, "err": None},
        "rows_only": {"hash_match": None, "err": "no_oracle"},
        "wrong": {"hash_match": False, "rows_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "late_green": {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text("not json {")  # ignored
    hash_verified, rows_only = registry._driver_verified(root=Path(tmp_path))
    assert hash_verified == {"green", "late_green"}
    assert rows_only == {"rows_only"}
    # a hash MISMATCH is not verified: it must rotate back into the window
    assert "wrong" not in hash_verified


def test_all_queries_orders_unverified_first():
    """With the repo's real CORRECTNESS_r01.json present, round-1-verified
    names (e.g. q1_pricing_summary) must sort after never-checked ones, and
    every name must appear exactly once."""
    names = list(registry.all_queries())
    assert len(names) == len(set(names))
    root = Path(registry.__file__).resolve().parent.parent
    if not list(root.glob("CORRECTNESS_r*.json")):
        pytest.skip("no driver artifacts in this checkout")
    hash_verified, rows_only = registry._driver_verified()
    digests = registry._verified_digests()
    qs = registry.all_queries()
    pos = {n: i for i, n in enumerate(names)}

    def current(n):
        return digests.get(n) == registry.query_digest(qs[n])

    # oracle-less queries already executed rows-only rank with the verified;
    # a green row only settles a name while its recorded digest is current
    settled = {n for n in hash_verified if n in qs and current(n)} | {
        n for n in names if qs[n].oracle is None and n in rows_only and current(n)
    }
    pending = [n for n in names if n not in settled]
    if pending and settled & set(names):
        assert max(pos[n] for n in pending) < min(
            pos[n] for n in (settled & set(names))
        ), "settled names must all sort after pending ones"


def test_stale_digest_demotes_verified_name(monkeypatch):
    """Editing a verified query's source or oracle must re-rank it into the
    driver's window: a green artifact row only counts while the recorded
    digest matches the current implementation (ADVICE r02, registry.py)."""
    registry._load_all()
    name = "q1_pricing_summary"
    q = registry._REGISTRY[name]
    real = registry.query_digest(q)
    hv, ros = registry._driver_verified()
    if name not in hv:
        pytest.skip("q1 not driver-verified in this checkout")

    # Model the steady state: every name verified and current, then q1's
    # implementation is edited (digest goes stale). Wiping the OTHER names'
    # digests instead would demote all of them to rank 0, where q1 would
    # sort by name, not at the front.
    all_current = {
        n: registry.query_digest(q2) for n, q2 in registry._REGISTRY.items()
    }
    monkeypatch.setattr(registry, "_verified_digests", lambda: all_current)
    pos_current = list(registry.all_queries()).index(name)

    stale = dict(all_current, **{name: "0" * 16})
    monkeypatch.setattr(registry, "_verified_digests", lambda: stale)
    pos_stale = list(registry.all_queries()).index(name)
    assert pos_stale < pos_current, "stale digest must move the name forward"
    assert pos_stale < 50, "stale name must re-enter the driver's 50-row window"


def test_queries_order_ignores_registration_order(monkeypatch):
    """Ties within a rank break by name, so the 50-query verification
    window does not move when an import side effect changes which module
    registers first."""
    registry._load_all()
    before = list(registry.all_queries())
    pending = registry.needs_driver_proof()
    monkeypatch.setattr(
        registry, "_REGISTRY", dict(reversed(registry._REGISTRY.items()))
    )
    assert list(registry.all_queries()) == before
    assert registry.needs_driver_proof() == pending


def test_refresh_verified_digests_records_newest_greens(tmp_path, monkeypatch):
    registry._load_all()
    art = tmp_path / "CORRECTNESS_r99.json"
    art.write_text(json.dumps({
        "q1_pricing_summary": {"hash_match": True, "err": None},
        "agg_approx_quantile": {"hash_match": None, "err": "no_oracle"},
        "not_a_query": {"hash_match": True, "err": None},
        "q3_shipping_priority": {"hash_match": False, "err": None},
    }))
    out = tmp_path / "verified_digests.json"
    out.write_text(json.dumps({"q5_local_supplier_volume": "feedfeedfeedfeed"}))
    monkeypatch.setattr(registry, "_DIGESTS_FILE", out)
    digests = registry.refresh_verified_digests(art)
    assert digests["q1_pricing_summary"] == registry.query_digest(
        registry._REGISTRY["q1_pricing_summary"]
    )
    assert "agg_approx_quantile" in digests          # rows-only still recorded
    assert "not_a_query" not in digests              # unknown names skipped
    assert "q3_shipping_priority" not in digests     # red rows never recorded
    assert digests["q5_local_supplier_volume"] == "feedfeedfeedfeed"  # kept
    assert json.loads(out.read_text()) == digests    # persisted


def test_duplicate_registration_rejected():
    with pytest.raises(ValueError, match="duplicate"):
        @registry.register("q1_pricing_summary")
        def dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def _code_names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def test_dsum_binding_follows_the_query():
    """A query keeps the ``_dsum`` it was written and verified against,
    whichever module holds it."""
    from mongodb_nats_connector_spark.functions.exactsum import (
        decimal_sum,
        double_sum,
    )

    registry._load_all()
    bound = {
        n: q.fn.__globals__.get("_dsum")
        for n, q in registry._REGISTRY.items()
        if "_dsum" in _code_names(q.fn.__code__)
    }
    assert {n for n, f in bound.items() if f is double_sum} == DOUBLE_SUM_QUERIES
    others = {n: f for n, f in bound.items() if n not in DOUBLE_SUM_QUERIES}
    assert others and all(f is decimal_sum for f in others.values())


def test_operator_modules_named_by_domain():
    """No operator module is named for the round that added it, except the
    re-export shims, and each shim binds only its one name."""
    ops = Path(operators.__file__).resolve().parent
    round_named = {
        p.stem for p in ops.glob("*.py") if re.search(r"pipeline\d|\d$", p.stem)
    }
    assert round_named == set(SHIMS)
    for name, export in SHIMS.items():
        mod = importlib.import_module(f"{operators.__name__}.{name}")
        assert {k for k in vars(mod) if not k.startswith("__")} == {export}


def _top_level_bindings(node) -> list[str]:
    """Names a module-level ``def``, ``class`` or assignment binds (imports
    are left out: rebinding an imported module is harmless)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def _imported_names(node) -> list[str]:
    """Names a module-level import binds (``from __future__`` binds none)."""
    if isinstance(node, ast.Import):
        return [a.asname or a.name.split(".")[0] for a in node.names]
    if isinstance(node, ast.ImportFrom) and node.module != "__future__":
        return [a.asname or a.name for a in node.names]
    return []


def test_test_modules_named_by_domain():
    """No test module is named for the round that added it (a query's tests
    live in ``test_<module>.py`` of the module that registers it); no test
    module binds a top-level ``def``, ``class`` or assigned name twice
    (Python keeps only the later one, and pytest reports nothing: a second
    ``SF = ...`` silently retargets every test above it); and none imports
    a top-level name it never reads."""
    tests = Path(__file__).resolve().parent
    round_named = sorted(
        p.name
        for pattern in ("test_round*.py", "test_r1[0-9]_*.py")
        for p in tests.glob(pattern)
    )
    assert not round_named, f"round-named test modules: {round_named}"
    for path in sorted(tests.glob("*.py")):
        tree = ast.parse(path.read_text())
        names = [name for n in tree.body for name in _top_level_bindings(n)]
        twice = sorted({n for n in names if names.count(n) > 1})
        assert not twice, f"{path.name} binds {twice} more than once"
        read = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        imported = {name for n in tree.body for name in _imported_names(n)}
        unread = sorted(imported - read)
        assert not unread, f"{path.name} imports {unread} and never reads them"


def test_registered_name_matches_function_name():
    """Every registry key equals its function's __name__ — a def slipped
    between a @register(...) call and its intended target silently
    registers the WRONG callable (this caught graph_kcore serving raw
    edges in round 7)."""
    from mongodb_nats_connector_spark import registry

    registry._load_all()
    mismatched = [
        (n, q.fn.__name__)
        for n, q in registry._REGISTRY.items()
        if q.fn.__name__ != n
    ]
    assert not mismatched, f"registry key != function name: {mismatched}"
