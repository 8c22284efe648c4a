"""The registry's guards: duplicate names, oracle entries without a query,
family modules left out of ``registry._MODULES``, and the pinned keys,
order and oracle texts."""

from __future__ import annotations

import hashlib
import json
import pathlib
import sys
import types

import pytest

from presto_db_spark import registry


def _fake_module(monkeypatch, name: str, queries: dict, oracle: dict) -> str:
    mod = types.ModuleType(name)
    mod.QUERIES, mod.ORACLE = queries, oracle
    monkeypatch.setitem(sys.modules, name, mod)
    return name


def _fn(spark, sf_dir):
    return None


def test_family_rejects_a_duplicate_name():
    queries, oracle, q = registry.family()
    q("x", "SELECT 1")(_fn)
    assert queries == {"x": _fn} and oracle == {"x": "SELECT 1"}
    with pytest.raises(ValueError, match="duplicate query name: x"):
        q("x")(_fn)


def test_collect_rejects_a_name_from_two_modules(monkeypatch):
    a = _fake_module(monkeypatch, "_registry_test_a", {"x": _fn}, {})
    b = _fake_module(monkeypatch, "_registry_test_b", {"x": _fn}, {})
    monkeypatch.setattr(registry, "_MODULES", [a, b])
    with pytest.raises(ValueError, match="duplicate query names from _registry_test_b"):
        registry.all_queries()


def test_collect_rejects_an_oracle_without_a_query(monkeypatch):
    a = _fake_module(monkeypatch, "_registry_test_a", {"x": _fn}, {"y": "SELECT 1"})
    monkeypatch.setattr(registry, "_MODULES", [a])
    with pytest.raises(ValueError, match="oracle entries without queries"):
        registry.all_oracle_sql()


def test_every_family_module_is_registered():
    pkg = pathlib.Path(registry.__file__).parent
    found = {
        "presto_db_spark." + ".".join(p.relative_to(pkg).with_suffix("").parts)
        for sub in ("operators", "streaming")
        for p in (pkg / sub).glob("*.py")
        if "= family()" in p.read_text()
    }
    assert "presto_db_spark.streaming.pipeline" in found
    assert found <= set(registry._MODULES), sorted(found - set(registry._MODULES))


# sha256 of every registry key, in order, with its oracle text. A change to
# a key, the order or an oracle text fails here; a deliberate one updates
# the constant (and says so in CHANGES.md).
_REGISTRY_FINGERPRINT = "b61baad9843373fe7a237ead9dc7f275e2c9150e6b0ce250ed8f616e8a570e99"


def test_registry_keys_order_and_oracle_texts_are_pinned():
    oracle = registry.all_oracle_sql()
    dump = json.dumps([[name, oracle.get(name)] for name in registry.all_queries()])
    assert hashlib.sha256(dump.encode()).hexdigest() == _REGISTRY_FINGERPRINT
