"""DDL / DML surface — CTAS, INSERT, views, ANALYZE, EXPLAIN, DELETE.

Reference operators this mirrors (SURVEY.md §2.1/§2.9):

* CTAS / INSERT — ``TableWriterOperator`` + ``TableFinishOperator``
  (``pm/operator/TableWriterOperator.java:64``, ``TableFinishOperator.java``):
  Presto writes via connector page sinks and commits transactionally. Spark's
  commit protocol does the same for ``saveAsTable``/``insertInto``.
* DELETE — ``DeleteOperator`` / ``MetadataDeleteOperator``
  (``pm/operator/DeleteOperator.java:40``): row-level delete against plain
  parquet has no transactional story in Spark without a table format; we
  implement the reference's *metadata delete* (rewrite the complement),
  which is exactly what Presto does for non-transactional connectors.
* ANALYZE — ``StatisticsWriterOperator`` (``pm/operator/
  StatisticsWriterOperator.java``) → ``ANALYZE TABLE … COMPUTE STATISTICS``;
  feeds Catalyst CBO the way Presto stats feed its cost-based optimizer
  (``pm/cost/StatsCalculator.java``).
* EXPLAIN [ANALYZE] — ``ExplainAnalyzeOperator``
  (``pm/operator/ExplainAnalyzeOperator.java:34``).
* Session properties — ``pm/SystemSessionProperties.java`` names mapped to
  Spark confs (the reference's static planner flags become Spark/AQE knobs).

Scale note: every method here delegates the data movement to Spark's
distributed writers — the driver never materializes rows. ``delete_where``
rewrites only the partitions that could contain matches when a
``partition_col`` predicate is supplied (partition pruning does the rest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .functions.compat import ensure_functions, referenced_functions
from .functions.presto import register_presto_functions

# Presto session property -> setter(spark, value). Reference:
# pm/SystemSessionProperties.java (property names at :66-:127).
# _SESSION_PROPERTY_CONFS: the Spark conf keys a property touches, so
# RESET SESSION can restore the pre-override values (ResetSessionTask).
_SESSION_PROPERTY_CONFS: dict[str, list[str]] = {
    "hash_partition_count": ["spark.sql.shuffle.partitions"],
    "join_distribution_type": ["spark.sql.autoBroadcastJoinThreshold"],
    "join_reordering_strategy": ["spark.sql.cbo.joinReorder.enabled"],
}
_SESSION_PROPERTY_MAP = {
    # hash_partition_count (SystemSessionProperties.java:66)
    "hash_partition_count": lambda s, v: s.conf.set("spark.sql.shuffle.partitions", str(v)),
    # join_distribution_type AUTOMATIC|PARTITIONED|BROADCAST (:~AddExchanges)
    "join_distribution_type": lambda s, v: s.conf.set(
        "spark.sql.autoBroadcastJoinThreshold",
        {"BROADCAST": str(512 * 1024 * 1024), "PARTITIONED": "-1"}.get(
            str(v).upper(), str(64 * 1024 * 1024)
        ),
    ),
    # join_reordering_strategy AUTOMATIC|NONE|ELIMINATE_CROSS_JOINS
    "join_reordering_strategy": lambda s, v: s.conf.set(
        "spark.sql.cbo.joinReorder.enabled",
        "true" if str(v).upper() == "AUTOMATIC" else "false",
    ),
    # spill_enabled (:111) — Spark always spills; accepted as a no-op.
    "spill_enabled": lambda s, v: None,
    # task_concurrency (:79) — local parallelism is Spark's scheduler's job.
    "task_concurrency": lambda s, v: None,
    # distributed_sort (:127) — Spark ORDER BY is always distributed.
    "distributed_sort": lambda s, v: None,
}


def spark_sql(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql`` for caller SQL: first registers the compat functions
    the text references (:mod:`.functions.compat`). ``frames`` fill the
    text's ``{name}`` placeholders, as in ``spark.sql``."""
    ensure_functions(spark, referenced_functions(text))
    return spark.sql(text, **frames)


class DdlMixin:
    """Mixed into :class:`presto_db_spark.engine.Engine` (needs ``self.spark``)."""

    spark: SparkSession

    # -- writes ---------------------------------------------------------------

    def create_table_as(
        self,
        name: str,
        source: str | DataFrame,
        *,
        mode: str = "error",
        partition_by: list[str] | None = None,
        format: str = "parquet",
    ) -> DataFrame:
        """CTAS: ``CREATE TABLE name AS <select>`` into the session warehouse.

        ``partition_by`` maps to hive-style directory partitioning — the
        100 TB lever for partition-pruned scans later (Presto equivalent:
        ``WITH (partitioned_by = ARRAY[...])`` on the Hive connector).
        """
        df = spark_sql(self.spark, source) if isinstance(source, str) else source
        writer = df.write.format(format).mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(name)
        return self.spark.table(name)

    def insert_into(self, name: str, source: str | DataFrame, *, overwrite: bool = False) -> None:
        """INSERT INTO (append) / INSERT OVERWRITE, by-name column resolution."""
        df = spark_sql(self.spark, source) if isinstance(source, str) else source
        df.write.mode("overwrite" if overwrite else "append").insertInto(name)

    def delete_where(self, name: str, condition: str) -> int:
        """DELETE FROM name WHERE condition — metadata-delete semantics.

        Rewrites the table as its complement (what ``MetadataDeleteOperator``
        does for partition predicates on non-transactional connectors).
        Returns the number of rows deleted. For transactional row-level
        deletes the user should layer Delta/Iceberg on the same API.

        NOT safe for concurrent deletes of the SAME table: each call stages
        the complement of its own snapshot, so the last INSERT OVERWRITE wins
        and silently undoes the other delete. Serialize per-table (the
        reference inherits the same guarantee level from non-transactional
        connectors' metadata deletes).
        """
        import uuid as _uuid

        tbl = self.spark.table(name)
        before = tbl.count()
        # Spark refuses INSERT OVERWRITE of a table it is reading
        # (UNSUPPORTED_OVERWRITE) — stage the complement first. Distributed
        # write both times; no driver materialization. SQL DELETE removes
        # only rows where the predicate is TRUE — rows where it evaluates
        # to NULL are KEPT, hence the coalesce (not a bare NOT, which would
        # drop NULL-predicate rows). Staging name is uuid-suffixed so
        # concurrent deletes of different tables can't collide.
        staging = f"{name}_delete_staging_{_uuid.uuid4().hex[:12]}"
        ensure_functions(self.spark, referenced_functions(condition))
        tbl.filter(f"NOT coalesce(({condition}), false)").write.mode("overwrite").saveAsTable(
            staging
        )
        try:
            n_kept = self.spark.table(staging).count()
            self.spark.sql(f"INSERT OVERWRITE TABLE {name} SELECT * FROM {staging}")
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
        return before - n_kept

    # -- views ----------------------------------------------------------------

    def create_view(self, name: str, sql: str, *, replace: bool = True) -> None:
        df = spark_sql(self.spark, sql)
        if replace:
            df.createOrReplaceTempView(name)
        else:
            df.createTempView(name)

    def drop_view(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)

    # -- stats / explain ------------------------------------------------------

    def analyze(self, name: str, columns: list[str] | None = None) -> None:
        """ANALYZE → table + column stats for Catalyst CBO (join reorder,
        broadcast decisions — the role of ``pm/cost/`` in the reference)."""
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
        else:
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")

    def show_stats(self, table: str):
        """SHOW STATS FOR t (``presto-parser`` ShowStats →
        ``pm/sql/rewrite/ShowStatsRewrite.java``): one row per column with
        (data_size, distinct_values_count, nulls_fraction, low_value,
        high_value) plus the summary row carrying row_count — the exact
        column set the reference emits. Computed in ONE aggregation pass
        over the table (ndv via HLL approx_count_distinct, the same
        estimator the reference's stats calculator uses), so it works on
        the session's temp-view parquet tables where engine-catalog stats
        don't exist."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = self.spark.table(table)
        aggs, per_col = [], []
        for f in df.schema.fields:
            c = F.col(f.name)
            aggs += [
                F.approx_count_distinct(c).alias(f"{f.name}__ndv"),
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{f.name}__nulls"),
            ]
            is_num = isinstance(f.dataType, (T.NumericType, T.DateType, T.TimestampType))
            if is_num:
                aggs += [
                    F.min(c).cast("string").alias(f"{f.name}__lo"),
                    F.max(c).cast("string").alias(f"{f.name}__hi"),
                ]
            if isinstance(f.dataType, T.StringType):
                aggs.append(F.sum(F.octet_length(c)).alias(f"{f.name}__bytes"))
            per_col.append((f.name, is_num, isinstance(f.dataType, T.StringType)))
        aggs.append(F.count("*").alias("__rows"))
        r = df.agg(*aggs).collect()[0]
        n = r["__rows"]
        rows = [
            (
                name,
                float(r[f"{name}__bytes"]) if is_str and r[f"{name}__bytes"] is not None else None,
                float(r[f"{name}__ndv"]),
                (float(r[f"{name}__nulls"]) / n) if n else 0.0,
                r[f"{name}__lo"] if is_num else None,
                r[f"{name}__hi"] if is_num else None,
                None,
            )
            for name, is_num, is_str in per_col
        ] + [(None, None, None, None, None, None, float(n))]
        return self.spark.createDataFrame(
            rows,
            "column_name: string, data_size: double, distinct_values_count: double, "
            "nulls_fraction: double, low_value: string, high_value: string, row_count: double",
        )

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """EXPLAIN passthrough. Modes: simple|extended|codegen|cost|formatted."""
        df = spark_sql(self.spark, sql)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), mode
        )

    def explain_graphviz(self, sql: str) -> str:
        """EXPLAIN (FORMAT GRAPHVIZ): a dot digraph of the physical plan
        tree (GraphvizPrinter.java analog) — one node per operator, edges
        child→parent, labels = the operator's one-line description."""
        import re as _re

        text = self.explain(sql, mode="simple").strip()
        lines = [
            ln for ln in text.splitlines()
            if ln.strip() and not ln.startswith("==")
        ]
        nodes: list[tuple[int, str]] = []  # (depth, label)
        for ln in lines:
            m = _re.match(r"^([ :+\-*]*)(.*)$", ln)
            indent, label = m.group(1), m.group(2).strip()
            if not label:
                continue
            nodes.append((len(indent), label.replace('"', "'")))
        out = ["digraph plan {", "  node [shape=box];"]
        stack: list[tuple[int, int]] = []  # (depth, node_id)
        for i, (depth, label) in enumerate(nodes):
            short = label if len(label) <= 80 else label[:77] + "..."
            out.append(f'  n{i} [label="{short}"];')
            while stack and stack[-1][0] >= depth:
                stack.pop()
            if stack:
                out.append(f"  n{i} -> n{stack[-1][1]};")
            stack.append((depth, i))
        out.append("}")
        return "\n".join(out)

    def explain_io(self, sql: str) -> str:
        """EXPLAIN (TYPE IO): the tables a query reads with the pruned
        column set and the filters pushed into each scan, as one JSON doc
        (IOPlanPrinter.java shape: inputTableColumnInfos; constraints here
        are the scan's PushedFilters — the Spark analog of the printer's
        columnConstraints)."""
        import json
        import re as _re

        text = self.explain(sql, mode="formatted")
        infos = []
        # each formatted scan block: "(n) Scan parquet ...", then Location/
        # ReadSchema/PushedFilters lines until the next blank line
        for block in _re.split(r"\n\s*\n", text):
            if "Scan parquet" not in block and "Scan csv" not in block \
                    and "Scan orc" not in block and "Scan json" not in block:
                continue
            loc = _re.search(r"Location:\s*\S+\s*\[([^\]]*)\]", block)
            schema = _re.search(r"ReadSchema:\s*struct<([^>]*)>", block)
            pushed = _re.search(r"PushedFilters:\s*\[([^\]]*)\]", block)
            if not (loc and loc.group(1)):
                continue  # the plan-tree section repeats the node names
            path = loc.group(1).split(",")[0].strip()
            table = path.rstrip("/").rsplit("/", 1)[-1]
            table = _re.sub(r"\.(parquet|orc|csv|json)$", "", table)
            cols = []
            if schema and schema.group(1):
                cols = [c.split(":")[0] for c in schema.group(1).split(",") if c]
            filters = []
            if pushed and pushed.group(1):
                # split on commas OUTSIDE parens: GreaterThan(x, 1.0) is one
                depth, cur = 0, ""
                for ch in pushed.group(1) + ",":
                    if ch == "," and depth == 0:
                        if cur.strip():
                            filters.append(cur.strip())
                        cur = ""
                        continue
                    depth += ch == "("
                    depth -= ch == ")"
                    cur += ch
            infos.append(
                {
                    "table": table,
                    "columns": sorted(cols),
                    "pushedFilters": filters,
                }
            )
        infos.sort(key=lambda d: (d["table"], d["columns"]))
        return json.dumps({"inputTableColumnInfos": infos}, sort_keys=True)

    def explain_analyze(self, sql: str) -> str:
        """EXPLAIN ANALYZE: execute, then render the plan with runtime metrics
        (rows, data size per operator) — ``ExplainAnalyzeOperator`` parity."""
        df = spark_sql(self.spark, sql)
        df.write.format("noop").mode("overwrite").save()  # run fully, discard
        return df._jdf.queryExecution().executedPlan().toString()

    # -- session properties ---------------------------------------------------

    def set_session(self, prop: str, value) -> None:
        """SET SESSION prop = value — Presto property names mapped to Spark
        confs; unknown names pass through to ``spark.conf`` verbatim."""
        setter = _SESSION_PROPERTY_MAP.get(prop)
        if setter is not None:
            setter(self.spark, value)
        else:
            self.spark.conf.set(prop, str(value))

    # -- metadata surface (SHOW / DESCRIBE / information_schema face) --------

    def show_tables(self) -> list[str]:
        """SHOW TABLES (``presto-parser`` ShowTables →
        ``information_schema.tables``): every table visible to queries."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    def show_columns(self, table: str) -> list[tuple[str, str]]:
        """SHOW COLUMNS FROM t / DESCRIBE t → (name, type) pairs."""
        return [(f.name, f.dataType.simpleString()) for f in self.spark.table(table).schema]

    def show_functions(self, like: str | None = None) -> list[str]:
        """SHOW FUNCTIONS [LIKE pattern] — built-ins plus the Presto compat
        layer's temp functions/UDFs (they register in the same catalog, so
        they are discoverable exactly like reference functions are in
        ``BuiltInFunctionNamespaceManager``). The pattern uses SQL LIKE
        semantics — ``%`` any run, ``_`` one char, anchored full match —
        as the reference's ShowFunctions rewrite does."""
        register_presto_functions(self.spark)
        names = sorted({f.name.lower() for f in self.spark.catalog.listFunctions()})
        if like is not None:
            import re as _re

            rx = _re.compile(
                "".join(
                    ".*" if c == "%" else "." if c == "_" else _re.escape(c)
                    for c in like.lower()
                )
            )
            names = [n for n in names if rx.fullmatch(n)]
        return names
