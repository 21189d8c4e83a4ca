"""SQL front-door: the ``spark-sql -i quickstart.sql`` surface (lifecycle E1).

Parity: the reference's entire SQL DML surface (``spark/sql/quickstart.sql``,
``spark/scripts/spark_sql_testing.sh:72-108``) — CREATE TABLE (partitioned/pk-less/
cow/mor via tblproperties), INSERT VALUES/SELECT, UPDATE, DELETE, MERGE INTO,
CTAS, ``TIMESTAMP AS OF`` time travel, the ``hudi_table_changes`` TVF, and hivevar
``${var}`` templating.

Architecture: every statement is parsed once by Spark's own parser
(``sessionState().sqlParser().parsePlan``) and dispatched on the class of the
typed plan it returns; DML and DDL route to the table-layer API, queries run
on Spark over snapshot views of the catalog tables they name. The reference
parses the same way, with Spark's parser plus Hudi's session extension
(``spark/scripts/utils.sh:4-8``). Two Hudi-only shapes that Spark's grammar
rejects keep one anchored regex each (``CREATE INDEX`` and ``SHOW INDEXES``);
any other statement Spark cannot parse, and any parsed command this module
does not implement, raises ``ValueError``.
"""

from __future__ import annotations

import json
import os
import re

from py4j.java_gateway import is_instance_of
from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession

from hudi_examples_spark.table import MergeClause, Table, TableConfig

#: Hudi index DDL: ``CREATE INDEX record_index ON t [(key cols)]`` and
#: ``CREATE INDEX name ON t USING secondary_index(col | expression)``
_CREATE_INDEX = re.compile(
    r"CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*(?:USING\s+(\w+)\s*)?(?:\((.*)\))?\s*$", re.I | re.S
)
_SHOW_INDEXES = re.compile(r"SHOW\s+INDEXES\s+(?:FROM|ON|IN)\s+(\w+)\s*$", re.I)
#: engine sugar expanded into fresh temp views before parsing
_TIME_TRAVEL = re.compile(r"FROM\s+(\w+)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'", re.I)
_TVF = re.compile(r"\b(hudi_table_changes|hudi_metadata)\s*\(([^)]*)\)", re.I)

_MERGE_ACTION_OF_CLASS = {
    "DeleteAction": "delete",
    "UpdateAction": "update",
    "UpdateStarAction": "update",
    "InsertAction": "insert",
    "InsertStarAction": "insert",
}
_COMMAND = "org.apache.spark.sql.catalyst.plans.logical.Command"


def _seq(s) -> list:
    """A Scala ``Seq`` from the JVM as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _relation(node) -> tuple[str, str | None]:
    """(table name, alias) of a parsed table reference."""
    alias = None
    if _kind(node) == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    return ".".join(_seq(node.multipartIdentifier())), alias


def _column(attr) -> str:
    """Column name of a (possibly alias-qualified) attribute."""
    return _seq(attr.nameParts())[-1]


def _field(field) -> str:
    """Column name of an ALTER TABLE field reference."""
    return _seq(field.name())[-1]


class Engine:
    """Catalog of engine tables + SQL dispatcher.

    The catalog is WAREHOUSE-PERSISTENT (the hive-sync analogue of
    ``DeltaStreamerExample.scala:28-33``): every ``register`` records
    name → base path in ``{warehouse}/_catalog.json``, and a new session's
    Engine resolves those names immediately — a table registered by one job
    is queryable from the next without re-registration, which is the whole
    point of syncing a catalog. Tables instantiate lazily on first access."""

    CATALOG_FILE = "_catalog.json"

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.tables: dict[str, Table] = {}
        self._view_seq = 0
        self._locations: dict[str, str] = self._load_catalog()
        self._jss = spark._jsparkSession
        self._parser = self._jss.sessionState().sqlParser()

    # ------------------------------------------------------------------ catalog

    def _catalog_path(self) -> str:
        return os.path.join(self.warehouse, self.CATALOG_FILE)

    def _load_catalog(self) -> dict[str, str]:
        p = self._catalog_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_catalog(self) -> None:
        os.makedirs(self.warehouse, exist_ok=True)
        tmp = self._catalog_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._locations, f, indent=1, sort_keys=True)
        os.replace(tmp, self._catalog_path())

    def register(self, name: str, table: Table) -> None:
        self.tables[name] = table
        if self._locations.get(name) != table.base:
            self._locations[name] = table.base
            self._save_catalog()

    def unregister(self, name: str) -> None:
        self.tables.pop(name, None)
        if name in self._locations:
            del self._locations[name]
            self._save_catalog()

    def table_names(self) -> list[str]:
        return sorted(self._locations)

    def table(self, name: str) -> Table:
        if name not in self.tables:
            base = self._locations.get(name, os.path.join(self.warehouse, name))
            if Table.exists(base):
                self.tables[name] = Table(self.spark, base)
            else:
                raise KeyError(f"unknown table {name}")
        return self.tables[name]

    def _fresh_view(self, df: DataFrame, hint: str) -> str:
        self._view_seq += 1
        name = f"__engine_{hint}_{self._view_seq}"
        df.createOrReplaceTempView(name)
        return name

    def _register_snapshots(self, text: str) -> None:
        """Snapshot views of the catalog tables ``text`` names (any whole
        word that is a table name — a superset is harmless). Catalog-known
        names resolve too: a table registered by a PREVIOUS session is
        SELECTable here without any re-registration."""
        words = {w.lower() for w in re.findall(r"\w+", text)}
        for name in sorted(set(self.tables) | set(self._locations)):
            if name.lower() not in words:
                continue
            try:
                self.table(name).read().createOrReplaceTempView(name)
            except KeyError:
                continue  # catalog entry whose files were removed externally

    def _table_of(self, plan) -> Table:
        """The engine table a parsed DDL/DML plan's ``table`` names."""
        return self.table(_relation(plan.table())[0])

    def _frame(self, node, text: str) -> DataFrame:
        """DataFrame of a parsed query, resolved over snapshot views of the
        catalog tables its own text names."""
        o = node.origin()
        start, stop = o.startIndex(), o.stopIndex()
        if start.isDefined() and stop.isDefined():
            text = text[start.get() : stop.get() + 1]
        self._register_snapshots(text)
        jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(self._jss, node)
        return DataFrame(jdf, self.spark)

    # ---------------------------------------------------------------------- sql

    def sql(self, text: str, params: dict[str, str] | None = None) -> DataFrame | None:
        """Execute a script of ';'-separated statements; returns the last result DF.

        ``params`` substitutes ``${var}`` placeholders — the hivevar templating of
        ``spark_sql_testing.sh:72-75`` / ``quickstart.sql:16-20``.
        """
        for var, val in (params or {}).items():
            text = text.replace("${" + var + "}", val)
        result: DataFrame | None = None
        for stmt in self._split(text):
            result = self._execute(stmt)
        return result

    @staticmethod
    def _split(text: str) -> list[str]:
        # strip line comments, split on ';' outside quotes
        lines = [ln for ln in text.splitlines() if not ln.strip().startswith("--")]
        body = "\n".join(lines)
        stmts, cur, in_q = [], [], None
        for ch in body:
            if in_q:
                cur.append(ch)
                if ch == in_q:
                    in_q = None
            elif ch in ("'", '"'):
                in_q = ch
                cur.append(ch)
            elif ch == ";":
                s = "".join(cur).strip()
                if s:
                    stmts.append(s)
                cur = []
            else:
                cur.append(ch)
        tail = "".join(cur).strip()
        if tail:
            stmts.append(tail)
        return stmts

    def _execute(self, stmt: str) -> DataFrame | None:
        s = self._expand(stmt.strip())
        m = _CREATE_INDEX.match(s)
        if m:
            return self._create_index(*m.groups())
        m = _SHOW_INDEXES.match(s)
        if m:
            return self._show_indexes(self.table(m.group(1)))
        try:
            plan = self._parser.parsePlan(s)
        except ParseException as e:
            raise ValueError(f"unsupported statement: {s[:120]}\n{e}") from e
        kind = _kind(plan)
        handler = self._HANDLERS.get(kind)
        if handler is not None:
            return handler(self, plan, s)
        if is_instance_of(self.spark.sparkContext._gateway, plan, _COMMAND):
            raise ValueError(f"unsupported statement ({kind}): {s[:120]}")
        return self._frame(plan, s)  # a query: SELECT, VALUES, WITH, set operations

    def _expand(self, s: str) -> str:
        """Replace ``FROM t TIMESTAMP AS OF '...'`` and the table-valued
        functions with fresh temp views of the table reads they stand for."""
        s = _TIME_TRAVEL.sub(
            lambda m: "FROM " + self._fresh_view(self.table(m[1]).read(as_of=m[2]), "asof"), s
        )
        return _TVF.sub(self._tvf_view, s)

    def _tvf_view(self, m: re.Match) -> str:
        """``hudi_table_changes('t', 'latest_state' | 'latest_state_completion'
        | 'cdc', '<begin>'[, '<end>'])`` — incremental, completion-time
        incremental and CDC (before/after images) reads; ``hudi_metadata('t',
        'files' | 'partitions' | 'column_stats' | 'bloom_filters' |
        'record_index' | ...)`` — the metadata-table partitions."""
        fn = m[1].lower()
        args = [a.strip().strip("'\"") for a in m[2].split(",")]
        if len(args) < (2 if fn == "hudi_metadata" else 3):
            raise ValueError(f"too few arguments: {m[0]}")
        tbl, mode, bounds = self.table(args[0]), args[1], args[2:] + [None]
        if fn == "hudi_metadata":
            df = tbl.metadata(mode)
        elif mode == "latest_state":
            df = tbl.table_changes(start=bounds[0], end=bounds[1])
        elif mode == "latest_state_completion":
            # bounds by publish stamps, closing the NBCC begin-cursor hole
            df = tbl.table_changes_by_completion(
                float(bounds[0]), float(bounds[1]) if bounds[1] else None
            )
        elif mode == "cdc":
            df = tbl.table_changes_cdc(start=bounds[0], end=bounds[1])
        else:
            raise ValueError(f"unsupported hudi_table_changes mode {mode!r}")
        return self._fresh_view(df, fn)

    # -------------------------------------------------------------------- index

    def _create_index(self, index: str, name: str, using: str | None, cols: str | None) -> None:
        tbl = self.table(name)
        if index.lower() == "record_index" and using is None:
            # the index NAME selects the type, per the Hudi SQL surface; the
            # column list is optional and validated against the record key
            if cols is not None and [c.strip() for c in cols.split(",")] != tbl.config.record_key:
                raise ValueError(
                    f"record_index must cover the record key {tbl.config.record_key}, got {cols}"
                )
            tbl.create_record_index()
        elif (using or "").lower() == "secondary_index" and cols:
            # a bare in-schema identifier makes a plain secondary index,
            # anything else a functional one; always keyed by the index NAME
            # (so DROP INDEX name works) — Table.lookup(col, v) still finds a
            # plain index by resolving its defining expression
            tbl.create_expression_index(index, cols.strip())
        else:
            raise ValueError(f"unsupported CREATE INDEX {index} ON {name} USING {using}")

    def _show_indexes(self, tbl: Table) -> DataFrame:
        """Hudi 1.0 SHOW INDEXES: every index kind with its defining
        expression, generation, and validity (invalid = rollback invalidated
        it; probes fall back to scans until rebuilt)."""
        rows = []
        for name in tbl.index_names():
            meta = tbl._index_meta(name)
            if meta is not None:
                rows.append(
                    (
                        name,
                        tbl._index_type(name, meta),
                        meta["expr"],
                        int(meta["gen"]),
                        bool(meta["valid"]),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "indexName STRING, indexType STRING, expr STRING, generation INT, valid BOOLEAN",
        )

    def _drop_index(self, plan, s: str) -> None:
        self._table_of(plan).drop_index(plan.indexName())

    # ---------------------------------------------------------------------- DDL

    def _create(self, plan, s: str) -> None:
        """CREATE TABLE [IF NOT EXISTS] t (cols) | AS SELECT, with the table
        config in TBLPROPERTIES or OPTIONS (quickstarts use the first, the
        datasource form the second), PARTITIONED BY and LOCATION."""
        name = ".".join(_seq(plan.name().nameParts()))
        spec = plan.tableSpec()
        provider = spec.provider()
        if provider.isDefined() and provider.get().lower() != "hudi":
            raise ValueError(f"only USING hudi tables are supported, got {provider.get()}")
        location = spec.location()
        base = location.get() if location.isDefined() else os.path.join(self.warehouse, name)
        if plan.ignoreIfExists() and Table.exists(base):
            return None
        props = {
            k.lower(): v
            for k, v in self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                spec.properties()
            ).items()
        }
        for opt in _seq(spec.optionExpression().options()):
            props[opt._1().lower()] = opt._2().toString()
        partition_by = []
        for t in _seq(plan.partitioning()):
            if _kind(t) != "IdentityTransform":
                raise ValueError(f"unsupported partition transform {t.describe()}")
            partition_by.append(t.describe())
        cfg = TableConfig(
            record_key=[k.strip() for k in props.get("primarykey", "").split(",") if k.strip()],
            precombine=props.get("precombinefield") or None,
            partition_by=partition_by,
            table_type=props.get("type", "cow"),
        )
        if _kind(plan) == "CreateTableAsSelect":
            tbl = Table.create_as(self.spark, base, self._frame(plan.query(), s), cfg)
        else:
            ddl = plan.tableSchema().toDDL()
            if not ddl:
                raise ValueError(f"CREATE TABLE {name} needs a column list or AS SELECT")
            tbl = Table.create(self.spark, base, ddl, cfg)
        self.register(name, tbl)

    def _drop_table(self, plan, s: str) -> None:
        name = ".".join(_seq(plan.child().nameParts()))
        try:
            self.table(name).drop()
        except KeyError:
            if not plan.ifExists():
                raise
        finally:
            self.unregister(name)

    def _add_columns(self, plan, s: str) -> None:
        ddl = ", ".join(f"`{c.colName()}` {c.dataType().sql()}" for c in _seq(plan.columnsToAdd()))
        self._table_of(plan).add_columns(ddl)

    def _drop_columns(self, plan, s: str) -> None:
        self._table_of(plan).drop_columns([_field(c) for c in _seq(plan.columnsToDrop())])

    def _rename_column(self, plan, s: str) -> None:
        self._table_of(plan).rename_column(_field(plan.column()), plan.newName())

    def _drop_partitions(self, plan, s: str) -> None:
        """Hudi delete_partition: ALTER TABLE t DROP PARTITION (k=v[, ...])."""
        tbl = self._table_of(plan)
        to_java = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        for part in _seq(plan.parts()):
            tbl.delete_partition(dict(to_java(part.spec()).items()))

    def _show_tables(self, plan, s: str) -> DataFrame:
        return self.spark.createDataFrame(
            [(n, self._locations.get(n, "")) for n in self.table_names()],
            "tableName STRING, location STRING",
        )

    def _show_partitions(self, plan, s: str) -> DataFrame:
        tbl = self._table_of(plan)
        parts = sorted({tbl._partition_path_of(r) for r in tbl.timeline.live_files()[0]} - {""})
        return self.spark.createDataFrame([(p,) for p in parts], "partition STRING")

    # ---------------------------------------------------------------------- DML

    def _insert(self, plan, s: str) -> None:
        """INSERT INTO | OVERWRITE [TABLE] t [(cols)] VALUES ... | SELECT ...;
        on a keyed table INSERT INTO upserts (the Hudi spark-sql default)."""
        name, _ = _relation(plan.table())
        if not plan.partitionSpec().isEmpty():
            raise ValueError(f"INSERT ... PARTITION (...) is unsupported: {s[:120]}")
        tbl = self.table(name)
        cols = list(_seq(plan.userSpecifiedCols())) or tbl.data_cols
        df = self._frame(plan.query(), s).toDF(*cols)
        df = df.select(*[df[c].cast(tbl.schema[c].dataType) for c in cols])
        if plan.overwrite():
            tbl.insert_overwrite(df)
        elif tbl.config.record_key:
            tbl.upsert(df)
        else:
            tbl.insert(df)

    def _update(self, plan, s: str) -> None:
        name, alias = _relation(plan.table())
        if alias is not None:
            raise ValueError(f"UPDATE with a table alias is unsupported: {s[:120]}")
        cond = plan.condition()
        self.table(name).update_where(
            cond.get().sql() if cond.isDefined() else "true",
            {_column(a.key()): a.value().sql() for a in _seq(plan.assignments())},
        )

    def _delete(self, plan, s: str) -> None:
        name, alias = _relation(plan.table())
        if alias is not None:
            raise ValueError(f"DELETE with a table alias is unsupported: {s[:120]}")
        self.table(name).delete_where(plan.condition().sql())

    def _merge(self, plan, s: str) -> None:
        """MERGE INTO t [[AS] a] USING table | (query) [[AS] b] ON a.k = b.k
        [AND ...] followed by WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN
        clauses, run in order by ``Table.merge``."""
        name, talias = _relation(plan.targetTable())
        talias = talias or name
        src = plan.sourceTable()
        if _kind(src) == "SubqueryAlias":
            salias, src = src.alias(), src.child()
        elif _kind(src) == "UnresolvedRelation":
            salias = _relation(src)[0]
        else:
            raise ValueError(f"a MERGE source query needs an alias: {s[:120]}")
        on = self._merge_keys(plan.mergeCondition(), talias, salias)
        clauses = [
            self._merge_clause(when, action)
            for when, actions in (
                ("matched", plan.matchedActions()),
                ("not_matched", plan.notMatchedActions()),
                ("not_matched_by_source", plan.notMatchedBySourceActions()),
            )
            for action in _seq(actions)
        ]
        self.table(name).merge(
            self._frame(src, s), on=on, clauses=clauses, aliases=(talias, salias)
        )

    @staticmethod
    def _merge_keys(cond, talias: str, salias: str) -> dict[str, str]:
        """Target column → source column of an ON clause that is a
        conjunction of ``target.col = source.col`` equalities."""
        on: dict[str, str] = {}
        todo = [cond]
        while todo:
            e = todo.pop()
            if _kind(e) == "And":
                todo += [e.left(), e.right()]
                continue
            cols = {}
            for side in (e.left(), e.right()) if _kind(e) == "EqualTo" else ():
                parts = _seq(side.nameParts()) if _kind(side) == "UnresolvedAttribute" else []
                if len(parts) == 2:
                    cols[parts[0].lower()] = parts[1]
            if set(cols) != {talias.lower(), salias.lower()}:
                raise ValueError(f"unsupported MERGE ON clause: {e.sql()}")
            on[cols[talias.lower()]] = cols[salias.lower()]
        return on

    @staticmethod
    def _merge_clause(when: str, action) -> MergeClause:
        kind = _kind(action)
        if kind not in _MERGE_ACTION_OF_CLASS:
            raise ValueError(f"unsupported MERGE action {kind}")
        cond = action.condition()
        assignments = None
        if kind in ("UpdateAction", "InsertAction"):
            assignments = {_column(a.key()): a.value().sql() for a in _seq(action.assignments())}
        condition = cond.get().sql() if cond.isDefined() else None
        return MergeClause(when, _MERGE_ACTION_OF_CLASS[kind], assignments, condition)

    # --------------------------------------------------------------- CALL procs

    def _call(self, plan, s: str) -> DataFrame | None:
        """Hudi Spark-SQL procedures (the SQL face of the table services);
        every argument is a positional literal and the first names the table.
        CALL run_compaction('t'[, 'schedule'|'execute'[, max_io_bytes]]) |
        show_compaction('t') — pending plans | run_clustering('t'[, buckets]) |
        run_clustering_sort('t'[, 'schedule'|'execute'], 'c1'[, 'c2', ...]) |
        run_clustering_zorder('t'[, 'schedule'|'execute'], 'c1', 'c2'[, ...]) |
        run_clustering_hilbert('t'[, 'schedule'|'execute'], 'c1', 'c2'[, ...]) |
        run_clustering_smallfiles('t'[, target_bytes]) — bin-pack small files |
        show_clustering('t') — pending clustering plans |
        run_log_compaction('t'[, min_logs]) — stitch small MOR logs |
        run_clean('t'[, retain]) | rebuild_index('t', 'name') |
        run_indexing('t', 'schedule', kind[, name[, expr]]) | run_indexing('t'[, 'execute']) |
        show_indexing('t') | validate('t') |
        run_services('t') — the full policy-driven maintenance pass |
        rollback_to_instant('t'[, instant]) |
        create_savepoint('t') | restore_to_savepoint('t', instant) |
        show_commits('t') | show_savepoints('t') |
        run_archival('t'[, retain]) | split_bucket('t', lower) |
        convert_to_ranges('t', buckets) |
        run_bootstrap('t', '<src>'[, 'record_key=..', ...]) — onboard
        existing parquet without a rewrite (see ``_run_bootstrap``) |
        export_snapshot('t', '<dest>'[, 'hudi'|'parquet'][, '<as_of>']) —
        consistent snapshot copy (O(files) hardlink clone or plain parquet).
        The sort/zorder forms are
        incremental: already-in-layout partitions are skipped (see
        ``Table._clustering_plan``)."""
        proc = ".".join(_seq(plan.procedure().nameParts())).lower()
        args = []
        for a in _seq(plan.args()):
            if _kind(a) != "Literal":
                raise ValueError(f"CALL {proc} takes positional literal arguments: {s[:120]}")
            args.append(a.toString())
        if not args:
            raise ValueError(f"CALL {proc} needs the table name as its first argument")
        name, rest = args[0], args[1:]
        if proc == "run_bootstrap":
            return self._run_bootstrap(name, rest)
        tbl = self.table(name)
        arg = rest[0] if rest else None
        if proc == "run_compaction":
            # Hudi's op switch: 'schedule' cuts a compactionplan instant for
            # an async executor, 'execute' runs the oldest pending plan; no
            # arg = inline both. A trailing number is max_io_bytes for the
            # schedule form (the bounded-IO / LogFileSizeBased strategy budget)
            op = rest[0].lower() if rest else ""
            budget = None
            if len(rest) > 1:
                # a malformed budget must ERROR, not silently schedule an
                # unbounded compaction ('128MB' is a typo, not "no budget")
                if not rest[1].isdigit() or int(rest[1]) <= 0:
                    raise ValueError(
                        f"run_compaction budget must be a positive integer "
                        f"(bytes), got {rest[1]!r}"
                    )
                budget = int(rest[1])
            if op == "schedule":
                tbl.schedule_compaction(max_io_bytes=budget)
            elif op in ("execute", "run"):
                tbl.run_compaction()
            else:
                tbl.compact()
            return None
        if proc == "show_compaction":
            rows = [
                (i.instant, len(i.meta.get("log_rels", [])), len(i.meta.get("merge_base", [])))
                for i in tbl.pending_compactions()
            ]
            return self.spark.createDataFrame(
                rows, "plan_instant STRING, n_log_files INT, n_base_files INT"
            )
        if proc == "run_clustering":
            tbl.cluster(int(arg) if arg else tbl.config.n_buckets or 4)
            return None
        if proc == "validate":
            # CALL validate('t') — integrity report (one row per check)
            return tbl.validate()
        if proc == "export_snapshot":
            if not rest:
                raise ValueError("export_snapshot requires a destination path")
            dest, opts = rest[0], rest[1:]
            emode = next((a for a in opts if a in ("hudi", "parquet")), "hudi")
            as_of = next((a for a in opts if a not in ("hudi", "parquet")), None)
            tbl.export_snapshot(dest, as_of=as_of, mode=emode)
            return None
        if proc == "run_clustering_smallfiles":
            # bin-pack small base files into ~target-size files (Hudi's
            # small-file clustering strategy; see Table.cluster_small_files)
            tbl.cluster_small_files(int(arg)) if arg else tbl.cluster_small_files()
            return None
        if proc in ("run_clustering_sort", "run_clustering_zorder", "run_clustering_hilbert"):
            if not rest:
                raise ValueError(f"{proc} requires a column list")
            # curve build switch (Hudi's sample build): a 'build=sample' /
            # 'build=uniform' element anywhere in the list
            build = "uniform"
            cols = []
            for c in rest:
                if c.lower().startswith("build="):
                    build = c.split("=", 1)[1].lower()
                else:
                    cols.append(c)
            # async split: a leading 'schedule' cuts a clusteringplan instead
            # of rewriting inline; 'execute' runs the oldest pending plan
            if cols and cols[0].lower() == "schedule":
                tbl.schedule_clustering(
                    cols[1:], strategy=proc.removeprefix("run_clustering_"), build=build
                )
            elif cols and cols[0].lower() in ("execute", "run"):
                tbl.run_clustering()
            elif proc == "run_clustering_sort":
                tbl.cluster_sort(cols)
            elif proc == "run_clustering_hilbert":
                tbl.cluster_hilbert(cols, build=build)
            else:
                tbl.cluster_zorder(cols, build=build)
            return None
        if proc == "show_clustering":
            rows = [
                (
                    i.instant,
                    i.meta.get("layout", {}).get("operation", ""),
                    len(i.meta.get("rewrite", [])),
                    len(i.meta.get("partitions", [])),
                )
                for i in tbl.pending_clusterings()
            ]
            return self.spark.createDataFrame(
                rows, "plan_instant STRING, layout STRING, n_files INT, n_partitions INT"
            )
        if proc == "run_log_compaction":
            # Hudi 1.0 log compaction: stitch small MOR logs, no base rewrite
            tbl.compact_logs(min_logs_per_partition=int(arg) if arg else 4)
            return None
        if proc == "run_clean":
            tbl.clean(retain_commits=int(arg) if arg else 10)
            return None
        if proc == "run_services":
            # the one entry point a scheduler calls per table per cadence;
            # returns the per-service report as rows so SQL callers see what ran
            rep = tbl.run_services()
            rows = [(k, json.dumps(v, default=str)) for k, v in rep.items()]
            return self.spark.createDataFrame(rows, "service STRING, result STRING")
        if proc == "run_indexing":
            # Hudi 1.0 async indexing (HoodieIndexer schedule/execute split):
            # 'schedule', 'record_index' | 'secondary', '<col>' |
            # 'expression', '<name>', '<expr>'; otherwise run the oldest plan
            if rest and rest[0].lower() == "schedule":
                tbl.schedule_indexing(
                    rest[1] if len(rest) > 1 else "record_index",
                    name=rest[2] if len(rest) > 2 else None,
                    expr=rest[3] if len(rest) > 3 else None,
                )
            else:
                tbl.run_indexing()
            return None
        if proc == "show_indexing":
            rows = [
                (i.instant, i.meta.get("kind", ""), i.meta.get("name", ""))
                for i in tbl.pending_indexings()
            ]
            return self.spark.createDataFrame(
                rows, "plan_instant STRING, kind STRING, name STRING"
            )
        if proc == "rebuild_index":
            if not arg:
                raise ValueError("rebuild_index requires the index name")
            tbl.rebuild_index(arg)
            return None
        if proc == "run_archival":
            tbl.archive_timeline(retain_instants=int(arg) if arg else 20)
            return None
        if proc == "split_bucket":
            tbl.split_bucket(int(arg))
            return None
        if proc == "convert_to_ranges":
            tbl.convert_to_ranges(int(arg))
            return None
        if proc == "rollback_to_instant":
            tbl.rollback(arg)
            return None
        if proc == "create_savepoint":
            tbl.savepoint(arg)
            return None
        if proc == "restore_to_savepoint":
            if not arg:
                raise ValueError("restore_to_savepoint requires an instant argument")
            tbl.restore_to_savepoint(arg)
            return None
        if proc == "show_commits":
            rows = [
                (i.instant, i.action, i.meta.get("operation", ""), len(i.files_added), len(i.files_removed))
                for i in tbl.timeline.completed_data_instants()
            ]
            return self.spark.createDataFrame(
                rows, "instant STRING, action STRING, operation STRING, n_added INT, n_removed INT"
            )
        if proc == "show_savepoints":
            return self.spark.createDataFrame(
                [(sp,) for sp in tbl.savepoints()], "instant STRING"
            )
        raise ValueError(f"unknown procedure {proc}")

    def _run_bootstrap(self, name: str, args: list[str]) -> DataFrame:
        """``CALL run_bootstrap('t', '<source_path>'[, 'record_key=a/b',
        'precombine=v', 'partition_by=p', 'table_type=cow|mor',
        'mode=metadata_only|full_record'])`` — the SQL face of Hudi's
        ``run_bootstrap`` procedure. Creates the table at
        ``{warehouse}/{name}`` from the existing parquet dataset (no rewrite
        in the default mode) and registers it in the catalog. Multi-column
        lists use ``/`` separators (commas delimit CALL arguments)."""
        if not args:
            raise ValueError("run_bootstrap requires a source path argument")
        source, opts = args[0], {}
        for tk in args[1:]:
            if "=" not in tk:
                raise ValueError(f"run_bootstrap option {tk!r} must be key=value")
            k, v = tk.split("=", 1)
            opts[k.strip()] = v.strip()
        config = TableConfig(
            record_key=[c for c in opts.get("record_key", "").split("/") if c],
            precombine=opts.get("precombine") or None,
            partition_by=[c for c in opts.get("partition_by", "").split("/") if c],
            table_type=opts.get("table_type", "cow"),
        )
        tbl = Table.bootstrap(
            self.spark,
            os.path.join(self.warehouse, name),
            source,
            config,
            mode=opts.get("mode", "metadata_only"),
        )
        self.register(name, tbl)
        boot = tbl.timeline.completed_data_instants()[0]
        return self.spark.createDataFrame(
            [
                (
                    name,
                    boot.instant,
                    boot.meta.get("mode", "full_record"),
                    len(boot.files_added),
                    boot.meta.get("files_linked", 0),
                )
            ],
            "table STRING, instant STRING, mode STRING, n_files INT, n_linked INT",
        )

    #: parsed plan class → handler(self, plan, statement text)
    _HANDLERS = {
        "MergeIntoTable": _merge,
        "UpdateTable": _update,
        "DeleteFromTable": _delete,
        "InsertIntoStatement": _insert,
        "CreateTable": _create,
        "CreateTableAsSelect": _create,
        "DropTable": _drop_table,
        "DropIndex": _drop_index,
        "AddColumns": _add_columns,
        "DropColumns": _drop_columns,
        "RenameColumn": _rename_column,
        "DropPartitions": _drop_partitions,
        "ShowTables": _show_tables,
        "ShowPartitions": _show_partitions,
        "Call": _call,
    }
