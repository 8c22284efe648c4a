"""Engine facade — the user-facing entry point.

Mirrors the reference's query lifecycle surface (submit → parse → analyze →
plan → execute; ``presto-main/.../dispatcher/DispatchManager.java:142``,
``SqlParser.java:101``) but delegates every stage to Spark SQL / Catalyst:
``Engine.sql()`` IS the whole pipeline. What we add on top:

* catalog bootstrap over the driver's parquet tables (:mod:`catalog`),
* the Presto-compat function layer (:mod:`functions.compat`), so
  Presto-flavored SQL runs as-is: each compat function is registered into
  the session's function registry the first time a statement references
  it, once per session,
* the extension operators (dedup / similarity / text / multimodal) exposed
  as DataFrame→DataFrame transformers,
* :func:`sql_query`, which makes a registry entry of a SQL text, and
  :func:`sql_entry`, which registers one (an entry is its oracle text run
  this way unless its module names a keep-rule for a port).
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import catalog
from .catalog import TABLES, register_tables
from .ddl import _SESSION_PROPERTY_CONFS, _SESSION_PROPERTY_MAP, DdlMixin, spark_sql
from .functions.dialect import _TOKEN, DEFAULT_CATALOGS, rewrite_presto_sql
from .functions.presto import register_presto_functions
from .registry import QueryFn
from .session import get_spark

_PREPARE_RE = re.compile(r"(?is)^\s*PREPARE\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+(.+?)\s*;?\s*$")
_EXECUTE_RE = re.compile(r"(?is)^\s*EXECUTE\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\s+USING\s+(.+?))?\s*;?\s*$")
_DEALLOCATE_RE = re.compile(r"(?is)^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$")
_DESCRIBE_IO_RE = re.compile(r"(?is)^\s*DESCRIBE\s+(INPUT|OUTPUT)\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$")
_SHOW_STATS_RE = re.compile(r"(?is)^\s*SHOW\s+STATS\s+FOR\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$")
_SET_SESSION_RE = re.compile(
    r"(?is)^\s*SET\s+SESSION\s+([A-Za-z_][A-Za-z0-9_.]*)\s*=\s*(.+?)\s*;?\s*$")
_RESET_SESSION_RE = re.compile(
    r"(?is)^\s*RESET\s+SESSION\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$")
_SHOW_SESSION_RE = re.compile(r"(?is)^\s*SHOW\s+SESSION\s*;?\s*$")
_EXPLAIN_RE = re.compile(
    r"(?is)^\s*EXPLAIN\s+(?:\(\s*"
    r"(?:TYPE\s+(LOGICAL|DISTRIBUTED|IO|VALIDATE)|"
    r"FORMAT\s+(TEXT|GRAPHVIZ|JSON))"
    r"(?:\s*,\s*(?:TYPE\s+(LOGICAL|DISTRIBUTED|IO|VALIDATE)|"
    r"FORMAT\s+(TEXT|GRAPHVIZ|JSON)))?"
    r"\s*\)\s+|(ANALYZE)\s+)?(SELECT.+|WITH.+|VALUES.+)$")

_LEADING_WITH = re.compile(r"(?is)^(?:\s|--[^\n]*|/\*.*?\*/)*WITH\b")


def sql_query(text: str) -> QueryFn:
    """A registry query built from SQL ``text``: each call runs the text as
    :meth:`Engine.sql` does, without an ``Engine`` or session views. It
    binds only the driver tables the text names, each the session's one
    frame for that table (:func:`catalog.load_table`, read on first use),
    through ``spark.sql``'s frame arguments, which become uniquely named
    views dropped after analysis, so the session's own temp views of the
    same names are neither read nor replaced."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        template, tables = _bound_template(text)
        frames = {t: catalog.load_table(spark, sf_dir, t) for t in tables}
        return spark_sql(spark, template, **frames)

    return query


def sql_entry(q: Callable, name: str, text: str) -> None:
    """Register ``text`` under ``name`` with a family's ``_q`` decorator
    (:func:`registry.family`): the entry is :func:`sql_query` of ``text``
    and ``text`` is also its DuckDB oracle."""
    q(name, text)(sql_query(text))


@functools.cache
def _bound_template(text: str) -> tuple[str, tuple[str, ...]]:
    """``text`` through the dialect rewrite (on the first call only), with
    each driver table it names defined as a leading CTE over its ``{name}``
    frame placeholder; a CTE shadows any view of that name."""
    body = rewrite_presto_sql(text)
    words = {t.lower() for t in _TOKEN.findall(body)}
    tables = tuple(t for t in TABLES if t in words)
    ctes = ", ".join(f"{t} AS (SELECT * FROM {{{t}}})" for t in tables)
    body = body.replace("{", "{{").replace("}", "}}")
    m = _LEADING_WITH.match(body)
    if m:
        return f"{body[:m.end()]} {ctes},{body[m.end():]}", tables
    return f"WITH {ctes}\n{body}", tables


class Engine(DdlMixin):
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        """Bind to ``spark`` (default :func:`session.get_spark`) and attach
        the driver tables under ``sf_dir`` if given. No compat function is
        registered here: :meth:`sql` registers each one the first time a
        statement references it, once per session."""
        self.spark = spark or get_spark()
        self.tables: dict[str, DataFrame] = {}
        # Catalog names stripped from three-part table references by the
        # dialect rewriter (Presto catalog.schema.table → flat temp view).
        self.catalogs: set[str] = set(DEFAULT_CATALOGS)
        # PREPARE name FROM stmt session store (SqlBase.g4:119-121;
        # pm/execution/PrepareTask.java) — raw text, parameters bound and
        # the dialect applied at EXECUTE time.
        self.prepared: dict[str, str] = {}
        # SET SESSION overrides, surfaced by SHOW SESSION; _session_saved
        # snapshots the pre-override conf values so RESET SESSION can
        # restore them (ResetSessionTask parity).
        self.session_props: dict[str, str] = {}
        self._session_saved: dict[str, list[tuple[str, str | None]]] = {}
        # view name → original (as-submitted) defining SELECT text, used by
        # SHOW CREATE VIEW (ShowQueriesRewrite returns the stored view SQL)
        self.view_defs: dict[str, str] = {}
        # system.runtime.queries backing store: one tuple per completed
        # Engine.sql call (QuerySystemTable.java surface).
        self.query_log: list[tuple] = []
        self._query_seq = 0
        if sf_dir:
            self.attach(sf_dir)

    def attach(self, sf_dir: str) -> None:
        """Register the driver tables under their bare names, as views of
        the session's one frame per table (:func:`catalog.load_table`:
        read once per session and file version, so a second ``Engine``
        or ``attach`` on the same session reads nothing again)."""
        self.tables = register_tables(self.spark, sf_dir)

    def sql(self, query: str, *, dialect: bool = True) -> DataFrame:
        """Run SQL. With ``dialect=True`` (default) the Presto-only
        spellings Spark can't host as temp functions — quoted identifiers,
        catalog-prefixed names, ARRAY[]/ROW() constructors, AT TIME ZONE,
        UNNEST join forms, aggregate renames, arity-dependent regexp
        defaults, literal-format datetime calls, TRY guidance — are
        rewritten first; see :mod:`functions.dialect`.

        The prepared-statement lifecycle (``PREPARE name FROM stmt``,
        ``EXECUTE name [USING expr, ...]``, ``DEALLOCATE PREPARE name``,
        ``DESCRIBE INPUT|OUTPUT name`` — SqlBase.g4:119-121,
        ``pm/execution/PrepareTask.java``) is handled here, since Spark has
        no session statement store. Positional ``?`` parameters are bound
        textually left-to-right, literal-safe (a ``?`` inside a string
        stays data)."""
        original = query  # as submitted — system.runtime.queries logs THIS
        handled = self._prepared_statement(query)
        if handled is not None:
            return handled
        if dialect:
            # SHOW CREATE / SHOW CATALOGS / system-schema SHOWs are part of
            # the Presto dialect surface; with dialect=False the statement
            # falls through untouched so Spark's native SHOW output (e.g.
            # the 'namespace' column) is preserved.
            handled = self._system_statement(query)
            if handled is not None:
                return handled
        if dialect:
            # system-catalog table references must be resolved BEFORE the
            # dialect pass (its catalog-prefix stripping would swallow the
            # `system.` qualifier and leave an unresolvable 2-part name).
            from . import systemcat

            query, sys_used = systemcat.rewrite_system_refs(query)
            for schema, table in sys_used:
                systemcat.register_system_table(
                    self.spark, schema, table, engine=self
                )
            query, jmx_used = systemcat.rewrite_jmx_refs(query)
            for objname in jmx_used:
                systemcat.register_jmx_table(self.spark, objname)
            # Presto REQUIRES SQL-invoked functions to live in a namespace
            # (CREATE FUNCTION example.default.tan — SqlBase.g4:62). Learn
            # the namespace's catalog from the DDL so this statement's and
            # every later statement's references to it are stripped to the
            # session-flat name.
            for m in re.finditer(
                r"(?i)\b(?:create(?:\s+or\s+replace)?|drop)\s+function\s+"
                r"(?:if\s+exists\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*"
                r"[A-Za-z_][A-Za-z0-9_]*\s*\.\s*[A-Za-z_]",
                query,
            ):
                self.catalogs.add(m.group(1).lower())
            query = rewrite_presto_sql(query, catalogs=frozenset(self.catalogs))
        df = spark_sql(self.spark, query)
        # remember view definitions so SHOW CREATE VIEW can return the
        # original view text (ShowQueriesRewrite emits the stored SQL)
        m = re.match(
            r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?"
            r"(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r'([A-Za-z_"][A-Za-z0-9_."]*)\s*(?:\([^)]*\)\s*)?AS\s+(.+?)\s*;?\s*$',
            original,
        )
        if m:
            vname = m.group(1).replace('"', "").split(".")[-1].lower()
            self.view_defs[vname] = m.group(2).strip()
        self._log_query(original)
        return df

    def _log_query(self, text: str) -> None:
        """Append to the system.runtime.queries backing log
        (QuerySystemTable.java surface; 'FINISHED' = analysis/planning
        completed — execution is lazy in Spark)."""
        from datetime import datetime

        from . import systemcat

        self._query_seq += 1
        now = datetime.now()
        self.query_log.append(
            (
                systemcat.next_query_id(self._query_seq),
                "FINISHED",
                self.spark.sparkContext.sparkUser(),
                "presto-db-spark",
                text,
                ["global"],
                0,
                0,
                now,
                now,
                now,
                now,
            )
        )
        del self.query_log[:-100]  # bounded, like the reference's history

    def _system_statement(self, query: str) -> DataFrame | None:
        """SHOW SCHEMAS FROM system / SHOW TABLES FROM system.<schema>
        (ShowSchemasTask / ShowTablesTask against the system connector —
        `pm/connector/system/`)."""
        from . import systemcat

        m = re.match(
            r"(?is)^\s*SHOW\s+CREATE\s+(TABLE|VIEW)\s+"
            r"([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$",
            query,
        )
        if m:
            # ShowCreate (pm/execution/... via ShowQueriesRewrite):
            # Presto-dialect DDL synthesized from the live schema —
            # works for temp views too (Spark's own SHOW CREATE TABLE
            # rejects those).
            kind, name = m.group(1).upper(), m.group(2).split(".")[-1]
            if kind == "VIEW":
                # ShowCreate for views returns the STORED view SQL under a
                # 'Create View' column (ShowQueriesRewrite), not a column
                # list. Definitions are captured by Engine.sql when the
                # CREATE VIEW passes through this session.
                body = self.view_defs.get(name.lower())
                if body is None:
                    raise ValueError(
                        f"View '{name}' not found (not created through "
                        f"this engine session)"
                    )
                text = f"CREATE VIEW {name} AS\n{body}"
                return self.spark.createDataFrame(
                    [(text,)], "`Create View`: string"
                )
            schema = self.spark.table(name).schema
            to_presto = {
                "string": "varchar", "long": "bigint", "int": "integer",
                "double": "double", "float": "real", "boolean": "boolean",
                "date": "date", "timestamp": "timestamp", "binary": "varbinary",
                "short": "smallint", "byte": "tinyint",
            }

            def pt(dt):
                s = dt.simpleString()
                for spark_t, presto_t in to_presto.items():
                    if s == spark_t:
                        return presto_t
                return s  # decimal(p,s), array<...>, struct<...> as-is

            cols = ",\n".join(
                f'   "{f.name}" {pt(f.dataType)}' for f in schema.fields
            )
            text = f'CREATE TABLE {name} (\n{cols}\n)'
            return self.spark.createDataFrame(
                [(text,)], "`Create Table`: string"
            )
        m = re.match(
            r"(?is)^\s*(START\s+TRANSACTION(?:\s+[A-Za-z ,]+)?|COMMIT"
            r"(?:\s+WORK)?|ROLLBACK(?:\s+WORK)?)\s*;?\s*$",
            query,
        )
        if m:
            # TransactionManager surface (SqlBase.g4 startTransaction /
            # commit / rollback). The engine is auto-commit (Spark writes
            # are atomic per statement; there is no multi-statement
            # transaction to scope), so these parse, validate and succeed
            # as no-ops — the same observable behavior Presto gives on an
            # auto-commit session over a connector without transaction
            # support. Isolation/access-mode modifiers are accepted text.
            verb = m.group(1).split()[0].upper()
            word = {"START": "START TRANSACTION"}.get(verb, verb)
            return self.spark.createDataFrame([(word,)], "result: string")
        m = re.match(
            r"(?is)^\s*SHOW\s+GRANTS(?:\s+ON\s+(?:TABLE\s+)?"
            r"([A-Za-z_][A-Za-z0-9_.]*))?\s*;?\s*$",
            query,
        )
        if m:
            # ShowGrantsTask / information_schema.table_privileges shape.
            # The session catalog has no grant store — truthfully empty
            # with the reference's column layout.
            return self.spark.createDataFrame(
                [],
                "`Grantor`: string, `Grantor Type`: string, "
                "`Grantee`: string, `Grantee Type`: string, "
                "`Catalog`: string, `Schema`: string, `Table`: string, "
                "`Privilege`: string, `Grantable`: boolean",
            )
        m = re.match(r"(?is)^\s*SHOW\s+CATALOGS\s*;?\s*$", query)
        if m:
            # ShowCatalogsTask: the engine's known catalogs + the two
            # built-in connectors (system tables, driver-JVM jmx).
            rows = sorted(set(self.catalogs) | {"system", "jmx"})
            return self.spark.createDataFrame(
                [(c,) for c in rows], "`Catalog`: string"
            )
        m = re.match(
            r"(?is)^\s*SHOW\s+FUNCTIONS(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$",
            query,
        )
        if m:
            # ShowFunctionsTask / ShowQueriesRewrite: one row per function
            # the session can call, Presto column shape (Function /
            # Return Type / Argument Types / Function Type / Deterministic
            # / Description). The registry here is Spark's session catalog
            # (builtins + every Presto-compat registration); signature
            # details Spark's catalog doesn't expose are left blank rather
            # than fabricated — the LIST is the contract (the golden
            # SHOW FUNCTIONS pairs compare the reference's registration
            # dump, documented skip in test_product_golden).
            import fnmatch as _fn

            pat = m.group(1)
            agg_names = {
                "sum", "count", "avg", "min", "max", "min_by", "max_by",
                "count_if", "bool_and", "bool_or", "every", "arbitrary",
                "any_value", "stddev", "stddev_pop", "stddev_samp",
                "variance", "var_pop", "var_samp", "skewness", "kurtosis",
                "corr", "covar_pop", "covar_samp", "collect_list",
                "collect_set", "approx_count_distinct", "percentile_approx",
                "regr_slope", "regr_intercept", "regr_r2", "regr_count",
                "regr_avgx", "regr_avgy",
            }
            register_presto_functions(self.spark)
            rows = []
            for f in self.spark.catalog.listFunctions():
                name = f.name.lower()
                if pat is not None and not _fn.fnmatch(
                    name, pat.replace("%", "*").replace("_", "?")
                ):
                    continue
                rows.append(
                    (
                        name,
                        "",
                        "",
                        "aggregate" if name in agg_names else "scalar",
                        True,
                        f.description or "",
                    )
                )
            rows.sort()
            return self.spark.createDataFrame(
                rows,
                "`Function`: string, `Return Type`: string, "
                "`Argument Types`: string, `Function Type`: string, "
                "`Deterministic`: boolean, `Description`: string",
            )
        m = re.match(r"(?is)^\s*SHOW\s+SCHEMAS\s*;?\s*$", query)
        if m:
            # Plain SHOW SCHEMAS = current catalog's schemas; every
            # Presto catalog also exposes information_schema.
            dbs = sorted(
                {d.name for d in self.spark.catalog.listDatabases()}
                | {"information_schema"}
            )
            return self.spark.createDataFrame(
                [(d,) for d in dbs], "`Schema`: string"
            )
        m = re.match(r"(?is)^\s*SHOW\s+SCHEMAS\s+FROM\s+jmx\s*;?\s*$", query)
        if m:
            return self.spark.createDataFrame(
                [("current",), ("history",), ("information_schema",)],
                "`Schema`: string",
            )
        m = re.match(
            r"(?is)^\s*SHOW\s+TABLES\s+FROM\s+jmx\.current\s*;?\s*$", query
        )
        if m:
            # The jmx connector (presto-jmx/.../JmxMetadata.java): one
            # table per MBean, object names lowercased. Served LIVE from
            # the driver JVM's platform MBean server via py4j.
            # Live driver-JVM MBeans via the PUBLIC ManagementFactory
            # getters (the MBeanServer implementation class is not
            # exported under JPMS, so py4j reflection on queryNames
            # fails; every PlatformManagedObject interface IS public).
            mf = self.spark._jvm.java.lang.management.ManagementFactory
            names = {
                str(mf.CLASS_LOADING_MXBEAN_NAME),
                str(mf.COMPILATION_MXBEAN_NAME),
                str(mf.MEMORY_MXBEAN_NAME),
                str(mf.OPERATING_SYSTEM_MXBEAN_NAME),
                str(mf.RUNTIME_MXBEAN_NAME),
                str(mf.THREAD_MXBEAN_NAME),
            }
            for b in mf.getGarbageCollectorMXBeans():
                names.add(
                    f"{mf.GARBAGE_COLLECTOR_MXBEAN_DOMAIN_TYPE},"
                    f"name={b.getName()}"
                )
            for b in mf.getMemoryPoolMXBeans():
                names.add(
                    f"{mf.MEMORY_POOL_MXBEAN_DOMAIN_TYPE},name={b.getName()}"
                )
            names = sorted(n.lower() for n in names)
            return self.spark.createDataFrame(
                [(n,) for n in names], "`Table`: string"
            )
        m = re.match(
            r"(?is)^\s*SHOW\s+COLUMNS\s+FROM\s+system\."
            r"([A-Za-z_]+)\.([A-Za-z_]+)\s*;?\s*$",
            query,
        )
        if m:
            schema, table = m.group(1).lower(), m.group(2).lower()
            cols = systemcat.SYSTEM_TABLES.get((schema, table))
            if cols is None:
                raise ValueError(
                    f"Table 'system.{schema}.{table}' does not exist"
                )
            return self.spark.createDataFrame(
                [(c, t, "", "") for c, t in cols],
                "`Column`: string, `Type`: string, "
                "`Extra`: string, `Comment`: string",
            )
        m = re.match(r"(?is)^\s*SHOW\s+SCHEMAS\s+FROM\s+system\s*;?\s*$", query)
        if m:
            return self.spark.createDataFrame(
                [(s,) for s in systemcat.SYSTEM_SCHEMAS], "`Schema`: string"
            )
        m = re.match(
            r"(?is)^\s*SHOW\s+TABLES\s+FROM\s+system\.([A-Za-z_]+)\s*;?\s*$",
            query,
        )
        if m:
            schema = m.group(1).lower()
            if schema not in systemcat.SYSTEM_SCHEMAS:
                raise ValueError(f"Schema 'system.{schema}' does not exist")
            rows = [(t,) for (s, t) in systemcat.SYSTEM_TABLES if s == schema]
            return self.spark.createDataFrame(rows or [], "`Table`: string")
        return None

    def _prepared_statement(self, query: str) -> DataFrame | None:
        """Intercept the PREPARE/EXECUTE/DEALLOCATE/DESCRIBE-IO statements;
        None means 'not one of them — run normally'."""
        m = _PREPARE_RE.match(query)
        if m:
            self.prepared[m.group(1).lower()] = m.group(2)
            return self.spark.createDataFrame([("PREPARE",)], "result: string")
        m = _DEALLOCATE_RE.match(query)
        if m:
            name = m.group(1).lower()
            if name not in self.prepared:
                raise KeyError(f"Prepared statement not found: {name}")
            del self.prepared[name]
            return self.spark.createDataFrame([("DEALLOCATE",)], "result: string")
        m = _DESCRIBE_IO_RE.match(query)
        if m:
            kind, name = m.group(1).upper(), m.group(2).lower()
            text = self._lookup_prepared(name)
            if kind == "INPUT":
                # Presto reports each ? parameter's position (and inferred
                # type; 'unknown' without analysis — ours always is).
                slots = [
                    (i, "unknown")
                    for i, t in enumerate(self._parameter_tokens(text))
                ]
                return self.spark.createDataFrame(
                    slots or [], "position: int, type: string"
                )
            bound = self._bind_parameters(
                text, ["NULL"] * len(self._parameter_tokens(text))
            )
            df = self.sql(bound)
            rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
            return self.spark.createDataFrame(rows, "column_name: string, type: string")
        m = _EXECUTE_RE.match(query)
        if m:
            name, args_text = m.group(1).lower(), m.group(2)
            text = self._lookup_prepared(name)
            args = self._split_using(args_text) if args_text else []
            return self.sql(self._bind_parameters(text, args))
        m = _SHOW_STATS_RE.match(query)
        if m:
            # SHOW STATS FOR t (ShowStatsRewrite.java) — Spark has no such
            # statement; computed by DdlMixin.show_stats.
            return self.show_stats(m.group(1).split(".")[-1])
        m = _SET_SESSION_RE.match(query)
        if m:
            # SET SESSION prop = value (SqlBase.g4 setSession;
            # pm/execution/SetSessionTask.java) — value is a literal.
            name, raw = m.group(1).lower(), m.group(2).strip()
            if raw.startswith("'") and raw.endswith("'"):
                value: object = raw[1:-1].replace("''", "'")
                display = str(value)
            elif raw.lower() in ("true", "false"):
                value = raw.lower() == "true"
                display = raw.lower()
            else:
                value = raw
                display = raw
            # snapshot the affected conf values BEFORE the first override
            # of this property, so RESET restores the session defaults
            if name not in self._session_saved:
                confs = _SESSION_PROPERTY_CONFS.get(
                    name, [] if name in _SESSION_PROPERTY_MAP else [name]
                )
                self._session_saved[name] = [
                    (c, self.spark.conf.get(c, None)) for c in confs
                ]
            self.set_session(name, value)
            self.session_props[name] = display
            return self.spark.createDataFrame([("SET SESSION",)], "result: string")
        m = _RESET_SESSION_RE.match(query)
        if m:
            # RESET SESSION prop (ResetSessionTask.java): drop the override
            # AND restore the pre-override Spark conf values.
            name = m.group(1).lower()
            self.session_props.pop(name, None)
            for conf_key, old in self._session_saved.pop(name, []):
                if old is None:
                    self.spark.conf.unset(conf_key)
                else:
                    self.spark.conf.set(conf_key, old)
            return self.spark.createDataFrame([("RESET SESSION",)], "result: string")
        m = _EXPLAIN_RE.match(query)
        if m:
            # Presto EXPLAIN [(TYPE …)] / EXPLAIN ANALYZE (SqlBase.g4
            # explain; ExplainTask.java). TYPE LOGICAL → optimized logical
            # plan, DISTRIBUTED/IO → the physical (exchange-annotated) plan,
            # VALIDATE → analysis only, ANALYZE → executed plan + metrics.
            # FORMAT TEXT|JSON|GRAPHVIZ (combinable with TYPE, either
            # order): JSON = Catalyst's plan-tree JSON, GRAPHVIZ = a dot
            # digraph of the plan tree (the reference's GraphvizPrinter
            # analog).
            etype = m.group(1) or m.group(3)
            efmt = (m.group(2) or m.group(4) or "TEXT").upper()
            analyze, body = m.group(5), m.group(6)
            body = rewrite_presto_sql(body.rstrip("; \n"),
                                      catalogs=frozenset(self.catalogs))
            if analyze:
                text = self.explain_analyze(body)
            elif etype and etype.upper() == "VALIDATE":
                spark_sql(self.spark, body).schema  # analyze; raises on invalid
                return self.spark.createDataFrame([(True,)], "valid: boolean")
            elif etype and etype.upper() == "IO":
                # IOPlanPrinter.java: JSON of tables read + pruned columns
                # + per-scan pushed filters (columnConstraints analog)
                text = self.explain_io(body)
            elif efmt == "JSON":
                jqe = spark_sql(self.spark, body)._jdf.queryExecution()
                plan = (
                    jqe.optimizedPlan()
                    if etype and etype.upper() == "LOGICAL"
                    else jqe.executedPlan()
                )
                text = plan.toJSON()
            elif efmt == "GRAPHVIZ":
                text = self.explain_graphviz(body)
            elif etype and etype.upper() == "LOGICAL":
                text = self.explain(body, mode="extended")
            else:
                text = self.explain(body, mode="formatted")
            return self.spark.createDataFrame(
                [(text,)], "`Query Plan`: string")
        if _SHOW_SESSION_RE.match(query):
            # SHOW SESSION (ShowSessionTask...): the properties this session
            # has explicitly set (name, value) — the reference also lists
            # defaults; ours shows the overridden subset.
            rows = sorted(self.session_props.items())
            return self.spark.createDataFrame(rows or [], "name: string, value: string")
        return None

    def _lookup_prepared(self, name: str) -> str:
        if name not in self.prepared:
            raise KeyError(f"Prepared statement not found: {name}")
        return self.prepared[name]

    @staticmethod
    def _parameter_tokens(text: str) -> list[int]:
        """Token indices of top-level ? placeholders (string-literal-safe)."""
        toks = _TOKEN.findall(text)
        return [i for i, t in enumerate(toks) if t == "?"]

    @staticmethod
    def _split_using(args_text: str) -> list[str]:
        """Split the USING list on top-level commas (parens/strings safe)."""
        toks = _TOKEN.findall(args_text)
        out, cur, depth = [], [], 0
        for t in toks:
            if t in ("(", "["):
                depth += 1
            elif t in (")", "]"):
                depth -= 1
            if t == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(t)
        if "".join(cur).strip():
            out.append("".join(cur).strip())
        return out

    @staticmethod
    def _bind_parameters(text: str, args: list[str]) -> str:
        """Substitute ? placeholders left-to-right with the USING
        expressions (parenthesized, as Presto binds them as constant
        expressions). Count mismatch is an error, as in the reference
        (QueryPreparer: 'Incorrect number of parameters')."""
        toks = _TOKEN.findall(text)
        slots = [i for i, t in enumerate(toks) if t == "?"]
        if len(slots) != len(args):
            raise ValueError(
                f"Incorrect number of parameters: expected {len(slots)} "
                f"but found {len(args)}"
            )
        for i, a in zip(slots, args):
            toks[i] = f"({a})"
        return "".join(toks)

    def strict_errors(self, enabled: bool = True) -> None:
        """Presto evaluates with ANSI error semantics ALWAYS — division by
        zero, numeric overflow, and invalid casts are query errors
        (``pm/operator/scalar/MathFunctions.java`` throws
        PrestoException(DIVISION_BY_ZERO) etc.). Spark 4's ANSI default
        already matches, so strict is the out-of-the-box behavior;
        ``strict_errors(False)`` opts into legacy permissive NULL-on-error
        (the ``try_*`` functions keep their NULL contract either way,
        matching Presto's TRY)."""
        self.spark.conf.set("spark.sql.ansi.enabled", "true" if enabled else "false")

    def table(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        if name in TABLES:
            raise KeyError(f"table {name!r} exists but no sf_dir attached")
        return self.spark.table(name)
