"""The reference's `system` catalog, self-describing.

Presto ships a built-in ``system`` connector
(``presto-main/src/main/java/com/facebook/presto/connector/system/``):
``system.runtime.nodes|queries|tasks|transactions``
(``NodeSystemTable.java``, ``QuerySystemTable.java``,
``TaskSystemTable.java``, ``TransactionsSystemTable.java``),
``system.metadata.catalogs`` + the ``*_properties`` tables
(``CatalogSystemTable.java``, ``*PropertiesSystemTable.java``) and a
per-catalog ``information_schema``
(``pm/connector/informationschema/InformationSchemaMetadata.java``).
The product-test golden pairs (``sql-tests/testcases/system/``) pin the
exact column surface; the registry below reproduces it 1:1 so those
pairs replay verbatim.

Spark-first mapping: each system table is a small driver-built DataFrame
(the reference's system tables are likewise coordinator-memory
enumerations, not distributed scans). ``runtime.nodes`` and
``runtime.tasks`` read the LIVE SparkContext status tracker;
``runtime.queries`` reads the Engine's real query log;
``metadata.catalogs`` reads the Engine's catalog set. References like
``system.runtime.queries`` inside SQL are rewritten (literal-safely,
with the dialect tokenizer) to session views registered on demand —
the rewrite must run BEFORE the dialect pass, whose catalog-prefix
stripping would otherwise swallow the ``system.`` qualifier.
"""

from __future__ import annotations

import re
import time
import uuid
from datetime import datetime

from pyspark.sql import SparkSession

# (schema, table) -> [(column, presto_type), ...] — transcribed from the
# reference's own golden listing (selectInformationSchemaColumns.result),
# which is the public schema of InformationSchemaMetadata +
# the system-connector tables.
SYSTEM_TABLES: dict[tuple[str, str], list[tuple[str, str]]] = {
    ("information_schema", "applicable_roles"): [
        ("grantee", "varchar"), ("grantee_type", "varchar"),
        ("role_name", "varchar"), ("is_grantable", "varchar"),
    ],
    ("information_schema", "columns"): [
        ("table_catalog", "varchar"), ("table_schema", "varchar"),
        ("table_name", "varchar"), ("column_name", "varchar"),
        ("ordinal_position", "bigint"), ("column_default", "varchar"),
        ("is_nullable", "varchar"), ("data_type", "varchar"),
        ("comment", "varchar"), ("extra_info", "varchar"),
    ],
    ("information_schema", "enabled_roles"): [("role_name", "varchar")],
    ("information_schema", "roles"): [("role_name", "varchar")],
    ("information_schema", "schemata"): [
        ("catalog_name", "varchar"), ("schema_name", "varchar"),
    ],
    ("information_schema", "table_privileges"): [
        ("grantor", "varchar"), ("grantor_type", "varchar"),
        ("grantee", "varchar"), ("grantee_type", "varchar"),
        ("table_catalog", "varchar"), ("table_schema", "varchar"),
        ("table_name", "varchar"), ("privilege_type", "varchar"),
        ("is_grantable", "varchar"), ("with_hierarchy", "varchar"),
    ],
    ("information_schema", "tables"): [
        ("table_catalog", "varchar"), ("table_schema", "varchar"),
        ("table_name", "varchar"), ("table_type", "varchar"),
    ],
    ("information_schema", "views"): [
        ("table_catalog", "varchar"), ("table_schema", "varchar"),
        ("table_name", "varchar"), ("view_owner", "varchar"),
        ("view_definition", "varchar"),
    ],
    ("metadata", "analyze_properties"): [
        ("catalog_name", "varchar"), ("property_name", "varchar"),
        ("default_value", "varchar"), ("type", "varchar"),
        ("description", "varchar"),
    ],
    ("metadata", "catalogs"): [
        ("catalog_name", "varchar"), ("connector_id", "varchar"),
    ],
    ("metadata", "column_properties"): [
        ("catalog_name", "varchar"), ("property_name", "varchar"),
        ("default_value", "varchar"), ("type", "varchar"),
        ("description", "varchar"),
    ],
    ("metadata", "schema_properties"): [
        ("catalog_name", "varchar"), ("property_name", "varchar"),
        ("default_value", "varchar"), ("type", "varchar"),
        ("description", "varchar"),
    ],
    ("metadata", "table_properties"): [
        ("catalog_name", "varchar"), ("property_name", "varchar"),
        ("default_value", "varchar"), ("type", "varchar"),
        ("description", "varchar"),
    ],
    ("runtime", "nodes"): [
        ("node_id", "varchar"), ("http_uri", "varchar"),
        ("node_version", "varchar"), ("coordinator", "boolean"),
        ("state", "varchar"),
    ],
    ("runtime", "queries"): [
        ("query_id", "varchar"), ("state", "varchar"), ("user", "varchar"),
        ("source", "varchar"), ("query", "varchar"),
        ("resource_group_id", "array(varchar)"),
        ("queued_time_ms", "bigint"), ("analysis_time_ms", "bigint"),
        ("created", "timestamp"), ("started", "timestamp"),
        ("last_heartbeat", "timestamp"), ("end", "timestamp"),
    ],
    ("runtime", "tasks"): [
        ("node_id", "varchar"), ("task_id", "varchar"),
        ("stage_execution_id", "varchar"), ("stage_id", "varchar"),
        ("query_id", "varchar"), ("state", "varchar"),
        ("splits", "bigint"), ("queued_splits", "bigint"),
        ("running_splits", "bigint"), ("completed_splits", "bigint"),
        ("split_scheduled_time_ms", "bigint"), ("split_cpu_time_ms", "bigint"),
        ("split_blocked_time_ms", "bigint"), ("raw_input_bytes", "bigint"),
        ("raw_input_rows", "bigint"), ("processed_input_bytes", "bigint"),
        ("processed_input_rows", "bigint"), ("output_bytes", "bigint"),
        ("output_rows", "bigint"), ("physical_written_bytes", "bigint"),
        ("created", "timestamp"), ("start", "timestamp"),
        ("last_heartbeat", "timestamp"), ("end", "timestamp"),
    ],
    ("runtime", "transactions"): [
        ("transaction_id", "varchar"), ("isolation_level", "varchar"),
        ("read_only", "boolean"), ("auto_commit_context", "boolean"),
        ("create_time", "timestamp"), ("idle_time_secs", "bigint"),
        ("written_catalog", "varchar"), ("catalogs", "array(varchar)"),
    ],
}

# jdbc schema exists (SHOW SCHEMAS lists it) but its tables are the JDBC
# driver's metadata mirror — not modeled (filtered out by the reference's
# own golden query: table_schema <> 'jdbc').
SYSTEM_SCHEMAS = ["information_schema", "metadata", "runtime", "jdbc"]

_SPARK_TYPE = {"varchar": "string", "bigint": "long", "boolean": "boolean",
               "timestamp": "timestamp", "array(varchar)": "array<string>"}


def _ddl(cols: list[tuple[str, str]]) -> str:
    return ", ".join(f"`{c}` {_SPARK_TYPE[t]}" for c, t in cols)


def rewrite_system_refs(query: str) -> tuple[str, set[tuple[str, str]]]:
    """Literal-safe rewrite of ``system.<schema>.<table>`` references to
    flat ``system_<schema>_<table>`` view names (the dialect pass would
    otherwise strip the catalog and leave an unresolvable 2-part name).
    Returns the rewritten text and the set of referenced tables."""
    from .functions.dialect import _TOKEN

    tokens = _TOKEN.findall(query)
    out: list[str] = []
    used: set[tuple[str, str]] = set()
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if (
            t.lower() == "system"
            and i + 4 < len(tokens)
            and tokens[i + 1] == "."
            and tokens[i + 3] == "."
            and tokens[i + 2].lower() in SYSTEM_SCHEMAS
            and (tokens[i + 2].lower(), tokens[i + 4].lower()) in SYSTEM_TABLES
        ):
            schema, table = tokens[i + 2].lower(), tokens[i + 4].lower()
            out.append(f"system_{schema}_{table}")
            used.add((schema, table))
            i += 5
            continue
        out.append(t)
        i += 1
    return "".join(out), used


def register_system_table(
    spark: SparkSession, schema: str, table: str, engine=None
) -> None:
    """(Re)build ``system_<schema>_<table>`` as a temp view with LIVE
    content."""
    cols = SYSTEM_TABLES[(schema, table)]
    rows: list[tuple] = []
    if (schema, table) == ("information_schema", "schemata"):
        rows = [("system", s) for s in SYSTEM_SCHEMAS]
    elif (schema, table) == ("information_schema", "tables"):
        rows = [("system", s, t, "BASE TABLE") for (s, t) in SYSTEM_TABLES]
    elif (schema, table) == ("information_schema", "columns"):
        for (s, t), tcols in SYSTEM_TABLES.items():
            for pos, (c, typ) in enumerate(tcols, start=1):
                rows.append(("system", s, t, c, pos, None, "YES", typ, None, None))
    elif (schema, table) == ("information_schema", "roles"):
        rows = [("admin",)]
    elif (schema, table) == ("information_schema", "enabled_roles"):
        rows = [("admin",)]
    elif (schema, table) == ("runtime", "nodes"):
        sc = spark.sparkContext
        host = sc.getConf().get("spark.driver.host", "localhost")
        ui_port = sc.getConf().get("spark.ui.port", "4040")
        rows = [
            (
                sc.applicationId,
                f"http://{host}:{ui_port}",
                f"spark-{spark.version}",
                True,
                "active",
            )
        ]
    elif (schema, table) == ("runtime", "queries") and engine is not None:
        rows = list(engine.query_log)
    elif (schema, table) == ("runtime", "tasks"):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        node = sc.applicationId
        for sid in tracker.getActiveStageIds():
            info = tracker.getStageInfo(sid)
            if info is None:
                continue
            rows.append(
                (
                    node, f"stage-{sid}.0", f"{sid}.0", str(sid), node,
                    "RUNNING", info.numTasks, info.numTasks
                    - info.numActiveTasks - info.numCompletedTasks,
                    info.numActiveTasks, info.numCompletedTasks,
                    0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                    datetime.now(), datetime.now(), datetime.now(), None,
                )
            )
    elif (schema, table) == ("runtime", "transactions"):
        rows = [
            (
                str(uuid.uuid4()), "READ COMMITTED", False, True,
                datetime.now(), 0, None, ["system"],
            )
        ]
    elif (schema, table) == ("metadata", "catalogs") and engine is not None:
        rows = sorted((c, c) for c in set(engine.catalogs) | {"system", "jmx"})
    spark.createDataFrame(rows, _ddl(cols)).createOrReplaceTempView(
        f"system_{schema}_{table}"
    )


def next_query_id(seq: int) -> str:
    """Presto-format query id: yyyyMMdd_HHmmss_NNNNN_xxxxx
    (``QueryIdGenerator.java``)."""
    return (
        time.strftime("%Y%m%d_%H%M%S")
        + f"_{seq:05d}_"
        + uuid.uuid4().hex[:5]
    )


# --- jmx connector (presto-jmx/.../JmxMetadata.java) -------------------------
# SELECT surface for the platform singleton MXBeans: one row per node
# (here: the driver JVM), columns = lowercased attribute names plus the
# connector's node/object_name columns, values read LIVE through the
# PUBLIC java.lang.management interfaces (the MBeanServer impl class is
# JPMS-encapsulated, so generic attribute reflection is unavailable to
# py4j — the singleton beans' interfaces are exported and cover the
# attributes the reference's jmx tables are actually queried for).

def _jmx_runtime(mf, _spark):
    rt = mf.getRuntimeMXBean()
    return [
        ("name", "string", str(rt.getName())),
        ("vmname", "string", str(rt.getVmName())),
        ("vmvendor", "string", str(rt.getVmVendor())),
        ("vmversion", "string", str(rt.getVmVersion())),
        ("specname", "string", str(rt.getSpecName())),
        ("specversion", "string", str(rt.getSpecVersion())),
        ("uptime", "long", int(rt.getUptime())),
        ("starttime", "long", int(rt.getStartTime())),
    ]


def _jmx_memory(mf, _spark):
    mem = mf.getMemoryMXBean()
    h, n = mem.getHeapMemoryUsage(), mem.getNonHeapMemoryUsage()
    return [
        ("heapmemoryusage.committed", "long", int(h.getCommitted())),
        ("heapmemoryusage.init", "long", int(h.getInit())),
        ("heapmemoryusage.max", "long", int(h.getMax())),
        ("heapmemoryusage.used", "long", int(h.getUsed())),
        ("nonheapmemoryusage.committed", "long", int(n.getCommitted())),
        ("nonheapmemoryusage.used", "long", int(n.getUsed())),
        ("objectpendingfinalizationcount", "long",
         int(mem.getObjectPendingFinalizationCount())),
    ]


def _jmx_threading(mf, _spark):
    th = mf.getThreadMXBean()
    return [
        ("threadcount", "long", int(th.getThreadCount())),
        ("peakthreadcount", "long", int(th.getPeakThreadCount())),
        ("daemonthreadcount", "long", int(th.getDaemonThreadCount())),
        ("totalstartedthreadcount", "long",
         int(th.getTotalStartedThreadCount())),
    ]


def _jmx_os(mf, _spark):
    os_ = mf.getOperatingSystemMXBean()
    return [
        ("name", "string", str(os_.getName())),
        ("arch", "string", str(os_.getArch())),
        ("version", "string", str(os_.getVersion())),
        ("availableprocessors", "long", int(os_.getAvailableProcessors())),
        ("systemloadaverage", "double", float(os_.getSystemLoadAverage())),
    ]


def _jmx_classloading(mf, _spark):
    cl = mf.getClassLoadingMXBean()
    return [
        ("loadedclasscount", "long", int(cl.getLoadedClassCount())),
        ("totalloadedclasscount", "long", int(cl.getTotalLoadedClassCount())),
        ("unloadedclasscount", "long", int(cl.getUnloadedClassCount())),
    ]


def _jmx_compilation(mf, _spark):
    c = mf.getCompilationMXBean()
    return [
        ("name", "string", str(c.getName())),
        ("totalcompilationtime", "long", int(c.getTotalCompilationTime())),
    ]


JMX_TABLES = {
    "java.lang:type=runtime": _jmx_runtime,
    "java.lang:type=memory": _jmx_memory,
    "java.lang:type=threading": _jmx_threading,
    "java.lang:type=operatingsystem": _jmx_os,
    "java.lang:type=classloading": _jmx_classloading,
    "java.lang:type=compilation": _jmx_compilation,
}


def _jmx_view_name(objname: str) -> str:
    return "jmx_current_" + re.sub(r"[^a-z0-9]+", "_", objname.lower())


def rewrite_jmx_refs(query: str) -> tuple[str, set[str]]:
    """Literal-safe rewrite of ``jmx.current."<object-name>"`` table
    references to flat view names; returns (rewritten, used names)."""
    from .functions.dialect import _TOKEN

    tokens = _TOKEN.findall(query)
    out: list[str] = []
    used: set[str] = set()
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if (
            t.lower() == "jmx"
            and i + 4 < len(tokens)
            and tokens[i + 1] == "."
            and tokens[i + 2].lower() == "current"
            and tokens[i + 3] == "."
            and tokens[i + 4].startswith('"')
        ):
            objname = tokens[i + 4][1:-1].replace('""', '"').lower()
            if objname in JMX_TABLES:
                out.append(_jmx_view_name(objname))
                used.add(objname)
                i += 5
                continue
        out.append(t)
        i += 1
    return "".join(out), used


def register_jmx_table(spark: SparkSession, objname: str) -> None:
    mf = spark._jvm.java.lang.management.ManagementFactory
    attrs = JMX_TABLES[objname](mf, spark)
    cols = [("node", "string", spark.sparkContext.applicationId),
            ("object_name", "string", objname)] + attrs
    ddl = ", ".join(f"`{c}` {t}" for c, t, _ in cols)
    spark.createDataFrame([tuple(v for _, _, v in cols)], ddl) \
        .createOrReplaceTempView(_jmx_view_name(objname))
