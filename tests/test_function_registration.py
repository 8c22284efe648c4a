"""Presto-compat functions are registered on first reference, once per
session (functions/compat.py). Temp functions live per Spark session, so
each case runs on its own ``spark.newSession()``."""

from __future__ import annotations

import pytest
from pyspark.sql.udf import UDFRegistration

from presto_db_spark.engine import Engine
from presto_db_spark.functions.compat import ensure_functions, functions

COMPAT = set(functions())


def _listed(session) -> set[str]:
    return {f.name.lower() for f in session.catalog.listFunctions()}


def _builtin_compat_names(spark) -> set[str]:
    """Compat names that a bare session already lists (Spark built-ins of
    the same name, which a compat registration shadows)."""
    return _listed(spark.newSession()) & COMPAT


def test_table_is_the_full_compat_set():
    # 94 SQL-bodied functions + 61 Python/pandas UDFs
    assert len(COMPAT) == 155
    assert {"strpos", "url_extract_host", "to_utf8", "st_asbinary", "merge",
            "tdigest_agg", "ml_learn_classifier", "numeric_histogram",
            "parse_presto_data_size", "bar"} <= COMPAT


def test_engine_init_registers_nothing(spark, sf_dir):
    s = spark.newSession()
    Engine(s, sf_dir)
    assert _listed(s) & COMPAT == _builtin_compat_names(spark)


@pytest.mark.parametrize("name", sorted(COMPAT))
def test_each_name_registers_alone(spark, name):
    s = spark.newSession()
    ensure_functions(s, [name])
    rows = s.sql(f"DESCRIBE FUNCTION {name}").collect()
    assert any(name in r[0].lower() for r in rows), rows


def test_dialect_false_resolves_on_first_reference(spark):
    eng = Engine(spark.newSession())
    r = eng.sql("SELECT strpos('hello', 'l') p", dialect=False).collect()[0]
    assert r.p == 3


def test_view_over_compat_function(spark):
    # a view over a temp function must itself be temporary (Spark rejects
    # a persistent one), through SQL text and through create_view alike
    eng = Engine(spark.newSession())
    eng.sql("CREATE TEMPORARY VIEW hosts AS "
            "SELECT url_extract_host('http://a.example/x') h")
    assert eng.sql("SELECT h FROM hosts").collect()[0].h == "a.example"
    eng = Engine(spark.newSession())
    eng.create_view("ports", "SELECT url_extract_port('http://a.example:81/') p")
    assert eng.sql("SELECT p FROM ports").collect()[0].p == 81


def test_drop_compat_function_on_fresh_session(spark):
    s = spark.newSession()
    eng = Engine(s)
    eng.sql("DROP TEMPORARY FUNCTION IF EXISTS to_utf8")
    assert "to_utf8" not in _listed(s)


def test_show_functions_lists_the_compat_set(spark):
    eng = Engine(spark.newSession())
    listed = {r[0] for r in eng.sql("SHOW FUNCTIONS").collect()}
    assert COMPAT <= listed
    assert COMPAT <= set(Engine(spark.newSession()).show_functions())


def test_second_ensure_creates_nothing(spark, monkeypatch):
    s = spark.newSession()
    names = ["strpos", "st_geometrytype", "word_stem", "tdigest_agg"]
    ensure_functions(s, names)
    calls = []
    monkeypatch.setattr(s, "sql", lambda text: calls.append(text))
    monkeypatch.setattr(
        UDFRegistration, "register", lambda self, name, *a: calls.append(name)
    )
    ensure_functions(s, names)
    Engine(s)
    assert calls == []
