"""The Presto-compat function table and its one registration step.

Every compat function is one entry of :func:`functions`, a name →
definition table assembled from the defining modules (:mod:`.presto`,
:mod:`.scalars2`, :mod:`.aggcompat`, :mod:`.mlcompat`, :mod:`.digest`,
:mod:`.geosql`). A definition is either a SQL-bodied ``CREATE OR REPLACE
TEMPORARY FUNCTION … RETURN <expr>`` text or a UDF factory
(:func:`python_udf` / :func:`pandas_udf`). The modules only define; nothing
is registered at import or when an ``Engine`` is built.
:func:`ensure_functions` registers a name into a session when a statement
first references it, once per session — the reference likewise keeps one
registration table and builds an implementation when a query first
resolves it (``BuiltInFunctionNamespaceManager.java:433-700``).
"""

from __future__ import annotations

import functools
import re
import weakref
from collections.abc import Callable, Iterable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# A definition: CREATE text, or a callable that registers ``name`` into a
# session (``factory(spark, name)``).
Definition = str | Callable[[SparkSession, str], object]

_CREATED_NAME = re.compile(r"(?is)^\s*CREATE\s+OR\s+REPLACE\s+TEMPORARY\s+FUNCTION\s+(\w+)")
_WORD = re.compile(r"\w+")
_LISTS_FUNCTIONS = re.compile(r"(?is)^\s*SHOW\s+(?:\w+\s+)?FUNCTIONS\b")

# session → names registered into it by ensure_functions
_ENSURED: weakref.WeakKeyDictionary[SparkSession, set[str]] = weakref.WeakKeyDictionary()


def sql_functions(texts: Iterable[str]) -> dict[str, str]:
    """Key CREATE texts by the (lower-case) function name each creates."""
    return {_CREATED_NAME.match(t).group(1).lower(): t for t in texts}


def python_udf(f: Callable, return_type) -> Definition:
    """Row-at-a-time Python UDF definition."""
    return lambda spark, name: spark.udf.register(name, f, return_type)


def pandas_udf(f: Callable, return_type) -> Definition:
    """Arrow-batched pandas UDF definition (scalar or grouped-agg, from
    ``f``'s type hints). Built at registration: a DDL return-type string
    needs a live session to parse."""
    return lambda spark, name: spark.udf.register(name, F.pandas_udf(f, return_type))


@functools.cache
def functions() -> dict[str, Definition]:
    """The whole compat table, name → definition."""
    from . import aggcompat, digest, geosql, mlcompat, presto, scalars2

    table: dict[str, Definition] = {}
    for module in (presto, scalars2, mlcompat, aggcompat, digest, geosql):
        table.update(module.FUNCTIONS)
    return table


def referenced_functions(text: str) -> set[str]:
    """Compat names a SQL text references: every whole word of the text
    (case-insensitive) that names a table entry. A statement that lists
    functions (``SHOW [USER|SYSTEM|ALL] FUNCTIONS …``) references them all.
    A word that is not a call — a column named ``index`` — only costs one
    extra registration."""
    table = functions()
    if _LISTS_FUNCTIONS.match(text):
        return set(table)
    return set(_WORD.findall(text.lower())).intersection(table)


def ensure_functions(spark: SparkSession, names: Iterable[str]) -> None:
    """Register each named compat function into ``spark`` unless this
    session already has it from an earlier call.

    A SQL-bodied definition is analyzed by Spark at ``CREATE`` time, so
    the compat names its body references (:func:`referenced_functions`)
    are ensured first — the dependency closure. Work is recorded per
    session object: a second ``Engine`` on the same session, or a repeated
    name, creates nothing. A function the caller drops afterwards stays
    dropped, as it did when the whole table was registered up front."""
    done = _ENSURED.setdefault(spark, set())
    for name in names:
        _ensure(spark, name.lower(), done, frozenset())


def _ensure(spark: SparkSession, name: str, done: set[str], visiting: frozenset[str]) -> None:
    if name in done or name in visiting:
        return
    definition = functions()[name]
    if isinstance(definition, str):
        for dep in sorted(referenced_functions(definition)):
            _ensure(spark, dep, done, visiting | {name})
        spark.sql(definition)
    else:
        definition(spark, name)
    done.add(name)
