"""SQL front-door: replay of the reference's quickstart.sql lifecycle + the
spark_sql_testing.sh config matrix, with the scripts' own expected counts.

Parity: ``spark/sql/quickstart.sql`` (DDL :9-21, inserts :26-35, filter :40-41,
update :44, merge :58-63, counts :37/66/71, delete :69-71, time travel :74-77,
incremental TVF :80-86, CTAS :89-93) and the {cow,mor}×{partitioned,non}×{pk,pkless}
matrix of ``spark/scripts/spark_sql_testing.sh:78-108``.
"""

from __future__ import annotations

import pytest

from hudi_examples_spark.sql import Engine


@pytest.fixture
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "warehouse"))


QUICKSTART_DDL = """
CREATE TABLE hudi_table (
  ts BIGINT, uuid STRING, rider STRING, driver STRING, fare DOUBLE, city STRING
) USING hudi
PARTITIONED BY (city)
TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts', type = '${type}')
"""

QUICKSTART_INSERTS = """
INSERT INTO hudi_table VALUES
(1695159649087,'334e26e9','rider-A','driver-K',19.10,'san_francisco'),
(1695091554788,'e96c4396','rider-C','driver-M',27.70,'san_francisco'),
(1695046462179,'9909a8b1','rider-D','driver-L',33.90,'san_francisco'),
(1695332066204,'1dced545','rider-E','driver-O',93.50,'san_francisco'),
(1695516137016,'e3cf430c','rider-F','driver-P',34.15,'sao_paulo'),
(1695376420876,'7a84095f','rider-G','driver-Q',43.40,'sao_paulo'),
(1695173887231,'3eeb61f7','rider-I','driver-S',41.06,'chennai'),
(1695115999911,'c8abbe79','rider-J','driver-T',17.85,'chennai')
"""


def test_quickstart_lifecycle(engine):
    engine.sql(QUICKSTART_DDL, params={"type": "cow"})
    engine.sql(QUICKSTART_INSERTS)
    # quickstart.sql:37 — "Below Count should be 8"
    assert engine.sql("SELECT COUNT(1) AS c FROM hudi_table").collect()[0]["c"] == 8
    # quickstart.sql:40-41 — fare > 20.0 ⇒ 6 rows
    assert engine.sql(
        "SELECT ts, fare, rider, driver, city FROM hudi_table WHERE fare > 20.0"
    ).count() == 6
    # quickstart.sql:44 — UPDATE
    engine.sql("UPDATE hudi_table SET fare = 25.0 WHERE rider = 'rider-D'")
    assert engine.sql(
        "SELECT fare FROM hudi_table WHERE rider = 'rider-D'"
    ).collect()[0]["fare"] == 25.0
    first_instant = engine.table("hudi_table").timeline.completed_data_instants()[0].instant

    # quickstart.sql:48-63 — MERGE from fare_adjustment (2 updates + 2 inserts)
    engine.sql(
        """
        MERGE INTO hudi_table AS target
        USING (
          SELECT 1695091554788 AS ts, 'e96c4396' AS uuid, 'rider-C' AS rider,
                 'driver-M' AS driver, 38.74 AS fare, 'san_francisco' AS city
          UNION ALL SELECT 1695530237068, 'aa93e0e9', 'rider-H', 'driver-R', 9.90, 'sao_paulo'
          UNION ALL SELECT 1695241330902, 'bb99a00f', 'rider-X', 'driver-W', 60.00, 'chennai'
          UNION ALL SELECT 1695115999911, 'c8abbe79', 'rider-J', 'driver-T', 20.01, 'chennai'
        ) AS source
        ON target.uuid = source.uuid
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    # quickstart.sql:66 — "Below count should be 10"
    assert engine.sql("SELECT COUNT(1) AS c FROM hudi_table").collect()[0]["c"] == 10
    assert engine.sql(
        "SELECT fare FROM hudi_table WHERE uuid = 'e96c4396'"
    ).collect()[0]["fare"] == 38.74

    # quickstart.sql:69-71 — DELETE then count 0
    engine.sql("DELETE FROM hudi_table WHERE uuid = '334e26e9'")
    assert engine.sql(
        "SELECT COUNT(1) AS c FROM hudi_table WHERE uuid = '334e26e9'"
    ).collect()[0]["c"] == 0

    # quickstart.sql:74-77 — time travel, all THREE timestamp formats through
    # the SQL surface: full instant id, 'YYYY-MM-DD HH:MM:SS.fff', 'YYYY-MM-DD'
    tt = engine.sql(
        f"SELECT fare FROM hudi_table TIMESTAMP AS OF '{first_instant}' WHERE rider = 'rider-D'"
    )
    assert tt.collect()[0]["fare"] == 33.90
    from datetime import datetime, timedelta

    first_dt = datetime.strptime(first_instant[:17], "%Y%m%d%H%M%S%f")
    wall = first_dt.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    tt2 = engine.sql(
        f"SELECT fare FROM hudi_table TIMESTAMP AS OF '{wall}' WHERE rider = 'rider-D'"
    )
    assert tt2.collect()[0]["fare"] == 33.90
    day_after = (first_dt + timedelta(days=1)).strftime("%Y-%m-%d")
    n_now = engine.sql("SELECT COUNT(1) AS c FROM hudi_table").collect()[0]["c"]
    tt3 = engine.sql(f"SELECT COUNT(1) AS c FROM hudi_table TIMESTAMP AS OF '{day_after}'")
    assert tt3.collect()[0]["c"] == n_now  # a date past every commit = latest state

    # quickstart.sql:80-86 — incremental TVF since first commit
    inc = engine.sql(
        f"SELECT uuid, fare FROM hudi_table_changes('hudi_table', 'latest_state', '{first_instant}')"
    )
    changed = {r["uuid"] for r in inc.collect()}
    assert changed == {"9909a8b1", "e96c4396", "aa93e0e9", "bb99a00f", "c8abbe79"}

    # quickstart.sql:89-93 — CTAS
    engine.sql(
        "CREATE TABLE hudi_table_ctas USING hudi "
        "TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts') "
        "AS SELECT * FROM hudi_table WHERE fare > 20.0"
    )
    assert engine.table("hudi_table_ctas").count() == engine.sql(
        "SELECT COUNT(1) AS c FROM hudi_table WHERE fare > 20.0"
    ).collect()[0]["c"]


@pytest.mark.parametrize("ttype", ["cow", "mor"])
@pytest.mark.parametrize("partitioned", [True, False])
@pytest.mark.parametrize("pk", [True, False])
def test_config_matrix(engine, ttype, partitioned, pk):
    """spark_sql_testing.sh:78-108 — one templated script across the config matrix."""
    props = [f"type = '{ttype}'"]
    if pk:
        props.insert(0, "primaryKey = 'uuid', preCombineField = 'ts'")
    ddl = (
        "CREATE TABLE t (ts BIGINT, uuid STRING, fare DOUBLE, city STRING) USING hudi "
        + ("PARTITIONED BY (city) " if partitioned else "")
        + "TBLPROPERTIES (" + ", ".join(props) + ")"
    )
    engine.sql(ddl)
    engine.sql("INSERT INTO t VALUES (1,'a',10.0,'sf'),(2,'b',20.0,'ny')")
    engine.sql("INSERT INTO t VALUES (3,'a',30.0,'sf')")
    n = engine.sql("SELECT COUNT(1) AS c FROM t").collect()[0]["c"]
    if pk:
        assert n == 2  # keyed: second insert upserts 'a'
        assert engine.sql("SELECT fare FROM t WHERE uuid='a'").collect()[0]["fare"] == 30.0
    else:
        assert n == 3  # pk-less: appends
    engine.sql("DELETE FROM t WHERE uuid = 'b'")
    assert engine.sql("SELECT COUNT(1) AS c FROM t WHERE uuid='b'").collect()[0]["c"] == 0
    engine.sql("DROP TABLE t")


def test_partial_update_merge_sql(engine):
    """Job.py:125-127: multi-col ON + partial UPDATE SET target.col = source.col."""
    engine.sql(
        "CREATE TABLE ss (d BIGINT, item BIGINT, tick BIGINT, price DOUBLE) USING hudi "
        "TBLPROPERTIES (primaryKey = 'item,tick', preCombineField = 'd')"
    )
    engine.sql("INSERT INTO ss VALUES (1, 10, 100, 5.0), (1, 11, 101, 6.0)")
    engine.sql(
        """
        MERGE INTO ss AS target
        USING (SELECT 10 AS item, 100 AS tick, 9.99 AS price) AS source
        ON source.item = target.item AND source.tick = target.tick
        WHEN MATCHED THEN UPDATE SET target.price = source.price
        """
    )
    rows = {(r["item"], r["tick"]): r["price"] for r in engine.sql("SELECT * FROM ss").collect()}
    assert rows[(10, 100)] == 9.99 and rows[(11, 101)] == 6.0


def test_merge_matched_delete_sql(engine):
    """Job.py:131-133: WHEN MATCHED THEN DELETE."""
    engine.sql(
        "CREATE TABLE t2 (ts BIGINT, uuid STRING, fare DOUBLE) USING hudi "
        "TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts')"
    )
    engine.sql("INSERT INTO t2 VALUES (1,'a',1.0),(2,'b',2.0),(3,'c',3.0)")
    engine.sql(
        "MERGE INTO t2 AS target USING (SELECT 'b' AS uuid) AS source "
        "ON target.uuid = source.uuid WHEN MATCHED THEN DELETE"
    )
    assert {r["uuid"] for r in engine.sql("SELECT uuid FROM t2").collect()} == {"a", "c"}


def test_cdc_tvf_sql(engine):
    """hudi_table_changes('t', 'cdc', begin): I/U/D rows with before/after
    images through the SQL surface."""
    engine.sql(QUICKSTART_DDL, params={"type": "cow"})
    engine.sql(QUICKSTART_INSERTS)
    first = engine.table("hudi_table").latest_instant()
    engine.sql("UPDATE hudi_table SET fare = 99.0 WHERE rider = 'rider-A'")
    engine.sql("DELETE FROM hudi_table WHERE uuid = 'c8abbe79'")
    engine.sql(
        "INSERT INTO hudi_table VALUES "
        "(1695500000000,'newrow01','rider-Z','driver-Z',11.0,'chennai')"
    )
    rows = engine.sql(
        f"SELECT op, key, before.fare AS before_fare, after.fare AS after_fare "
        f"FROM hudi_table_changes('hudi_table', 'cdc', '{first}') ORDER BY op, key"
    ).collect()
    by_key = {r["key"]: r for r in rows}
    assert len(rows) == 3
    assert by_key["334e26e9"]["op"] == "U" and by_key["334e26e9"]["after_fare"] == 99.0
    assert by_key["334e26e9"]["before_fare"] == 19.10
    assert by_key["c8abbe79"]["op"] == "D" and by_key["c8abbe79"]["after_fare"] is None
    assert by_key["newrow01"]["op"] == "I" and by_key["newrow01"]["before_fare"] is None


def test_call_procedures(engine):
    """Hudi-style CALL procedures: services + timeline introspection via SQL."""
    engine.sql(QUICKSTART_DDL, params={"type": "mor"})
    engine.sql(QUICKSTART_INSERTS)
    engine.sql("UPDATE hudi_table SET fare = 1.0 WHERE rider = 'rider-A'")
    commits = engine.sql("CALL show_commits('hudi_table')").collect()
    assert len(commits) == 2 and {c["action"] for c in commits} == {"commit", "deltacommit"}
    engine.sql("CALL run_compaction('hudi_table')")
    commits = engine.sql("CALL show_commits('hudi_table')").collect()
    assert any(c["action"] == "replacecommit" for c in commits)
    engine.sql("CALL create_savepoint('hudi_table')")
    assert engine.sql("CALL show_savepoints('hudi_table')").count() == 1
    engine.sql("CALL rollback_to_instant('hudi_table')")  # undo the compaction
    assert engine.sql("SELECT count(1) AS c FROM hudi_table").collect()[0]["c"] == 8
    # mutate past the savepoint, then restore to it via SQL
    sp = engine.sql("CALL show_savepoints('hudi_table')").collect()[0]["instant"]
    engine.sql("UPDATE hudi_table SET fare = 2.0 WHERE rider = 'rider-A'")
    engine.sql(f"CALL restore_to_savepoint('hudi_table', '{sp}')")
    fares = {
        r["rider"]: r["fare"]
        for r in engine.sql("SELECT rider, fare FROM hudi_table").collect()
    }
    assert fares["rider-A"] == 1.0  # back to the savepointed state


def test_catalog_persists_across_sessions(spark, tmp_path):
    """Hive-sync analogue: a table registered by one Engine is SELECTable from
    a brand-new Engine over the same warehouse — including tables living
    OUTSIDE the warehouse directory (explicit LOCATION)."""
    wh = str(tmp_path / "warehouse")
    e1 = Engine(spark, wh)
    e1.sql(
        "CREATE TABLE trips (uuid STRING, fare DOUBLE, ts BIGINT) "
        "TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts')"
    )
    e1.sql("INSERT INTO trips VALUES ('a', 10.0, 1), ('b', 20.0, 1)")
    ext_base = str(tmp_path / "elsewhere" / "ext")
    e1.sql(
        f"CREATE TABLE ext (k STRING, v DOUBLE, ts BIGINT) "
        f"TBLPROPERTIES (primaryKey = 'k', preCombineField = 'ts') LOCATION '{ext_base}'"
    )
    e1.sql("INSERT INTO ext VALUES ('x', 1.5, 1)")

    # fresh session, same warehouse: both tables resolve from the catalog file
    e2 = Engine(spark, wh)
    assert e2.table_names() == ["ext", "trips"]
    shown = {r["tableName"] for r in e2.sql("SHOW TABLES").collect()}
    assert shown == {"ext", "trips"}
    assert e2.sql("SELECT count(*) AS n FROM trips").collect()[0]["n"] == 2
    assert e2.sql("SELECT v FROM ext").collect()[0]["v"] == 1.5
    # DML through the new session lands in the same tables
    e2.sql("INSERT INTO trips VALUES ('c', 30.0, 1)")
    e3 = Engine(spark, wh)
    assert e3.sql("SELECT count(*) AS n FROM trips").collect()[0]["n"] == 3
    # DROP removes the catalog entry durably
    e3.sql("DROP TABLE ext")
    assert Engine(spark, wh).table_names() == ["trips"]


def test_call_service_procedures_round2(engine):
    engine.sql(
        "CREATE TABLE svc (k STRING, v DOUBLE, ts BIGINT) "
        "TBLPROPERTIES (primaryKey = 'k', preCombineField = 'ts')"
    )
    for i in range(6):
        engine.sql(f"INSERT INTO svc VALUES ('a{i}', {i}.0, {i})")
    tbl = engine.table("svc")
    engine.sql("CALL convert_to_ranges('svc', 2)")
    assert len(tbl.config.bucket_ranges) == 2
    engine.sql("CALL split_bucket('svc', 0)")
    assert len(tbl.config.bucket_ranges) == 3
    n_before = len(tbl.timeline.instants())
    engine.sql("CALL run_archival('svc', 3)")
    assert len(tbl.timeline.instants()) < n_before
    assert engine.sql("SELECT count(*) AS n FROM svc").collect()[0]["n"] == 6


def test_call_clustering_sort_procedures(engine):
    """run_clustering_sort / run_clustering_zorder via SQL: view-preserving
    layout rewrites; a second identical call is the incremental no-op path."""
    engine.sql(QUICKSTART_DDL, params={"type": "cow"})
    engine.sql(QUICKSTART_INSERTS)
    before = {
        (r["rider"], r["fare"])
        for r in engine.sql("SELECT rider, fare FROM hudi_table").collect()
    }
    engine.sql("CALL run_clustering_sort('hudi_table', 'fare')")
    commits = engine.sql("CALL show_commits('hudi_table')").collect()
    assert any(c["operation"] == "cluster_sort" for c in commits)
    after = {
        (r["rider"], r["fare"])
        for r in engine.sql("SELECT rider, fare FROM hudi_table").collect()
    }
    assert after == before
    # fully in layout: incremental path publishes nothing
    n_commits = len(commits)
    engine.sql("CALL run_clustering_sort('hudi_table', 'fare')")
    assert engine.sql("CALL show_commits('hudi_table')").count() == n_commits
    # zorder over two columns also preserves the view
    engine.sql("CALL run_clustering_zorder('hudi_table', 'fare', 'ts')")
    final = {
        (r["rider"], r["fare"])
        for r in engine.sql("SELECT rider, fare FROM hudi_table").collect()
    }
    assert final == before
    # the sample (rank-boundary) build is a DIFFERENT layout identity: it
    # rewrites again and still preserves the view
    engine.sql("CALL run_clustering_zorder('hudi_table', 'build=sample', 'fare', 'ts')")
    commits = engine.sql("CALL show_commits('hudi_table')").collect()
    assert any(c["operation"] == "cluster_zorder" for c in commits)
    sampled = {
        (r["rider"], r["fare"])
        for r in engine.sql("SELECT rider, fare FROM hudi_table").collect()
    }
    assert sampled == before


def test_create_index_ddl(engine):
    """Hudi 1.0 index DDL through the SQL front-door: CREATE INDEX ... USING
    secondary_index(col | expr), CALL rebuild_index, DROP INDEX."""
    engine.sql(
        "CREATE TABLE idx_t (id STRING, cat STRING, v BIGINT) USING hudi "
        "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'v')"
    )
    engine.sql(
        "INSERT INTO idx_t VALUES ('a', 'x', 1), ('b', 'y', 2), ('c', 'x', 3)"
    )
    tbl = engine.table("idx_t")
    engine.sql("CREATE INDEX cat_idx ON idx_t USING secondary_index(cat)")
    assert "cat_idx" in tbl.secondary_index_cols()
    assert {r["id"] for r in tbl.lookup("cat", "x").collect()} == {"a", "c"}
    engine.sql("CREATE INDEX cat_up ON idx_t USING secondary_index(upper(cat))")
    assert {r["id"] for r in tbl.lookup_indexed("cat_up", "Y").collect()} == {"b"}
    engine.sql("CALL rebuild_index('idx_t', 'cat_up')")
    assert {r["id"] for r in tbl.lookup_indexed("cat_up", "Y").collect()} == {"b"}
    engine.sql("DROP INDEX cat_idx ON idx_t")
    assert "cat_idx" not in tbl.secondary_index_cols()


def test_call_run_bootstrap(engine, spark, tmp_path):
    """CALL run_bootstrap: onboard existing parquet via the SQL front-door,
    zero-rewrite, registered in the catalog, immediately queryable/writable."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "ext_src")
    spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.lit(1).alias("v"),
    ).write.partitionBy("p").parquet(src)
    rep = engine.sql(
        f"CALL run_bootstrap('boot_t', '{src}', 'record_key=k', "
        "'precombine=v', 'partition_by=p')"
    ).collect()[0]
    assert rep["mode"] == "metadata_only" and rep["n_linked"] == rep["n_files"] > 0
    assert engine.sql("SELECT count(*) AS n FROM boot_t").collect()[0]["n"] == 40
    engine.sql("UPDATE boot_t SET v = 2 WHERE k < 5")
    assert (
        engine.sql("SELECT count(*) AS n FROM boot_t WHERE v = 2").collect()[0]["n"]
        == 5
    )
    assert "boot_t" in engine.table_names()


# --------------------------------------------------------------------------
# MERGE clause semantics: clauses run in order, the first whose condition
# holds acts, and a row no clause takes stays as it is. Target rows 1-3,
# source rows 2-4 (2 and 3 matched, 4 new).

MERGE_SRC = (
    "(SELECT 2 AS id, 'B' AS v, 21 AS n, 2L AS ts "
    "UNION ALL SELECT 3, 'C', 31, 2L UNION ALL SELECT 4, 'D', 41, 2L)"
)
BEFORE = [(1, "a", 10, 1), (2, "b", 20, 1), (3, "c", 30, 1)]


@pytest.fixture(params=["cow", "mor"])
def merge_target(engine, request):
    engine.sql(
        "CREATE TABLE m (id INT, v STRING, n INT, ts BIGINT) USING hudi "
        f"TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = '{request.param}')"
    )
    engine.sql("INSERT INTO m VALUES (1, 'a', 10, 1), (2, 'b', 20, 1), (3, 'c', 30, 1)")
    return engine


def _merged(engine, clauses: str, head: str = "MERGE INTO m AS t USING {src} AS s") -> list:
    engine.sql(head.format(src=MERGE_SRC) + " ON t.id = s.id " + clauses)
    return sorted(tuple(r) for r in engine.sql("SELECT id, v, n, ts FROM m").collect())


def test_merge_insert_only_keeps_matched_rows(merge_target):
    got = _merged(merge_target, "WHEN NOT MATCHED THEN INSERT *")
    assert got == BEFORE + [(4, "D", 41, 2)]


def test_merge_update_only_inserts_nothing(merge_target):
    got = _merged(merge_target, "WHEN MATCHED THEN UPDATE SET *")
    assert got == [(1, "a", 10, 1), (2, "B", 21, 2), (3, "C", 31, 2)]


def test_merge_conditional_delete(merge_target):
    got = _merged(merge_target, "WHEN MATCHED AND s.n > 25 THEN DELETE")
    assert got == [(1, "a", 10, 1), (2, "b", 20, 1)]


def test_merge_insert_column_list_values(merge_target):
    got = _merged(
        merge_target, "WHEN NOT MATCHED THEN INSERT (ts, id, v) VALUES (s.ts, s.id, lower(s.v))"
    )
    assert got == BEFORE + [(4, "d", None, 2)]


def test_merge_conditional_update_all(merge_target):
    got = _merged(
        merge_target, "WHEN MATCHED AND s.n > 25 THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert got == [(1, "a", 10, 1), (2, "b", 20, 1), (3, "C", 31, 2), (4, "D", 41, 2)]


def test_merge_aliases_without_as(merge_target):
    got = _merged(
        merge_target,
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        head="MERGE INTO m t USING {src} s",
    )
    assert got == [(1, "a", 10, 1), (2, "B", 21, 2), (3, "C", 31, 2), (4, "D", 41, 2)]


def test_unsupported_statements_raise(engine):
    engine.sql("CREATE TABLE u (id INT, ts BIGINT) TBLPROPERTIES (primaryKey = 'id')")
    for bad in (
        "DROP VIEW some_view",
        "TRUNCATE TABLE u",
        "MERGE INTO u AS t USING u AS s ON t.id > s.id WHEN MATCHED THEN DELETE",
        "SELEC 1",
    ):
        with pytest.raises(ValueError, match="unsupported"):
            engine.sql(bad)
