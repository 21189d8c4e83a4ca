"""Async clustering: the schedule/execute split (Hudi's
``replacecommit.requested`` clustering plan + the standalone clustering job).

The property under test: a plan cut at time T pins exactly the out-of-layout
base files; execution at T+k is a pure re-layout COPY (rows keep their
original commit instants), so commits landing in between still supersede the
re-laid-out base at read time — and any commit that REPLACED a planned file
voids the plan instead of racing it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hudi_examples_spark.sql import Engine
from hudi_examples_spark.table.core import Table
from tests.test_table_cow import assert_same, make_table, trips_df


def _bulk(spark, tbl, n0, n1):
    tbl.insert(
        trips_df(
            spark,
            [
                (1000 + i, f"u{i:04d}", f"r{i}", f"d{i}", float(i % 97), "sf" if i % 2 else "la")
                for i in range(n0, n1)
            ],
        )
    )


def test_schedule_then_execute_matches_inline(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    for lo in range(0, 90, 30):  # three commits -> multiple out-of-layout files
        _bulk(spark, tbl, lo, lo + 30)
    before = tbl.read()
    plan = tbl.schedule_clustering(["fare"], n_files=4)
    assert plan is not None
    assert [i.instant for i in tbl.pending_clusterings()] == [plan]
    out = tbl.run_clustering()
    assert out is not None and out != plan
    assert tbl.pending_clusterings() == []
    assert_same(tbl.read(), before)
    # fully in layout now: a re-schedule with the same spec is a no-op
    assert tbl.schedule_clustering(["fare"], n_files=4) is None


def test_post_schedule_log_appends_survive_execution(spark, tmp_path):
    tbl = make_table(spark, tmp_path, table_type="mor")
    _bulk(spark, tbl, 0, 60)
    tbl.compact()  # plans are base-only: resolve the insert logs first
    plan = tbl.schedule_clustering(["fare"], n_files=4)
    assert plan is not None
    # writers keep going AFTER the plan is cut — MOR logs, base files untouched
    tbl.upsert(trips_df(spark, [(9999999999999, "u0001", "rX", "dX", 555.0, "sf")]))
    tbl.delete(spark.createDataFrame([("u0002",)], "uuid STRING"))
    expected = tbl.read()
    assert tbl.run_clustering(plan) is not None
    got = tbl.read()
    assert_same(got, expected)
    assert got.filter("uuid='u0001'").collect()[0]["fare"] == 555.0
    assert got.filter("uuid='u0002'").count() == 0


def test_plan_voided_by_cow_rewrite(spark, tmp_path):
    tbl = make_table(spark, tmp_path)  # cow: upsert REPLACES base files
    _bulk(spark, tbl, 0, 60)
    plan = tbl.schedule_clustering(["fare"], n_files=4)
    assert plan is not None
    tbl.upsert(trips_df(spark, [(9999999999999, "u0001", "rX", "dX", 555.0, "sf")]))
    expected = tbl.read()
    assert tbl.run_clustering() is None  # stale plan discarded, not raced
    assert tbl.pending_clusterings() == []
    assert_same(tbl.read(), expected)
    # a fresh plan against current state executes fine
    assert tbl.schedule_clustering(["fare"], n_files=4) is not None
    assert tbl.run_clustering() is not None
    assert_same(tbl.read(), expected)


def test_schedule_refuses_live_logs(spark, tmp_path):
    tbl = make_table(spark, tmp_path, table_type="mor")
    _bulk(spark, tbl, 0, 30)
    tbl.upsert(trips_df(spark, [(9999999999999, "u0001", "rX", "dX", 555.0, "sf")]))
    assert tbl.schedule_clustering(["fare"]) is None  # upsert log live
    tbl.compact()
    assert tbl.schedule_clustering(["fare"]) is not None


def test_zorder_plan_roundtrip(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    _bulk(spark, tbl, 0, 90)
    before = tbl.read()
    plan = tbl.schedule_clustering(["fare", "ts"], n_files=4, strategy="zorder", bits=4)
    assert plan is not None
    assert tbl.run_clustering() is not None
    assert_same(tbl.read(), before)
    assert tbl.schedule_clustering(["fare", "ts"], n_files=4, strategy="zorder", bits=4) is None


def test_run_services_executes_pending_plan(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    _bulk(spark, tbl, 0, 60)
    plan = tbl.schedule_clustering(["fare"], n_files=4)
    assert plan is not None
    report = tbl.run_services()
    assert report.get("clustering_plan_executed") is not None
    assert tbl.pending_clusterings() == []


def test_archival_keeps_pending_plans(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    _bulk(spark, tbl, 0, 30)
    plan = tbl.schedule_clustering(["fare"], n_files=2)
    for i in range(8):
        tbl.upsert(trips_df(spark, [(2000 + i, "u0001", "r", "d", float(i), "sf")]))
    tbl.timeline.archive(retain_data_instants=2)
    assert any(i.instant == plan for i in tbl.pending_clusterings())


def test_sql_frontdoor_schedule_execute(spark, tmp_path):
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE trips (ts BIGINT, uuid STRING, rider STRING, driver STRING, "
        "fare DOUBLE, city STRING) USING HUDI OPTIONS (primaryKey = 'uuid', "
        "preCombineField = 'ts') PARTITIONED BY (city)"
    )
    eng.sql(
        "INSERT INTO trips VALUES "
        + ", ".join(
            f"({1000 + i}, 'u{i:03d}', 'r', 'd', {float(i % 7)}, 'sf')" for i in range(20)
        )
    )
    eng.sql("CALL run_clustering_sort('trips', 'schedule', 'fare')")
    pend = eng.sql("SHOW CLUSTERING" if False else "CALL show_clustering('trips')")
    rows = pend.collect()
    assert len(rows) == 1 and rows[0]["layout"] == "cluster_sort"
    eng.sql("CALL run_clustering_sort('trips', 'execute', 'fare')")
    assert eng.sql("CALL show_clustering('trips')").count() == 0
    assert eng.sql("SELECT count(*) AS n FROM trips").collect()[0]["n"] == 20
