"""Async indexing (Hudi 1.0 HoodieIndexer schedule/execute split): CREATE
INDEX on a big table is a full-scan job a writer should not run inline —
scheduling cuts an ``indexingplan`` instant, a service process executes it,
and commits landing between the two are absorbed by the generational build
(snapshot + locked catch-up + publish re-append guard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "k BIGINT, val DOUBLE, seg STRING, v INT"


def _batch(spark, b, lo=0, hi=200):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5 + b).alias("val"),
        F.concat(F.lit("s"), F.col("id") % 3).alias("seg"),
        F.lit(b + 1).alias("v"),
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"]),
    )
    t.insert(_batch(spark, 0))
    return t


def test_schedule_then_execute_builds_record_index(tbl):
    assert tbl._index_meta("record_index") is None
    plan = tbl.schedule_indexing("record_index")
    assert [i.instant for i in tbl.pending_indexings()] == [plan]
    assert tbl._index_meta("record_index") is None  # schedule builds nothing
    assert tbl.run_indexing() == "record_index"
    assert tbl.pending_indexings() == []
    assert tbl._record_index_ready()


def test_commits_between_schedule_and_execute_are_absorbed(tbl, spark):
    tbl.schedule_indexing("secondary", "val")
    tbl.upsert(_batch(spark, 5, 500, 520))  # lands after the schedule
    assert tbl.run_indexing() == "val"
    # the post-schedule rows must be indexed: lookup ≡ scan
    want = {r["k"] for r in tbl.read().filter("val = 758.0").collect()}  # k=502
    got = {r["k"] for r in tbl.lookup("val", 758.0).collect()}
    assert want == {502} and got == want


def test_existing_index_schedules_generational_rebuild(tbl, spark):
    tbl.create_secondary_index("val")
    for b in range(1, 3):
        tbl.upsert(_batch(spark, b, 0, 50))  # superset grows
    gen_before = tbl._index_meta("val")["gen"]
    tbl.schedule_indexing("secondary", "val")
    assert tbl.run_indexing() == "val"
    assert tbl._index_meta("val")["gen"] == gen_before + 1
    k = tbl.read().filter("k = 10").first()
    got = {r["k"] for r in tbl.lookup("val", k["val"]).collect()}
    assert 10 in got


def test_run_services_executes_pending_plan(tbl):
    tbl.schedule_indexing("record_index")
    rep = tbl.run_services()
    assert rep.get("indexing_plan_executed") == "record_index"
    assert tbl._record_index_ready()


def test_expression_kind_and_validation(tbl):
    with pytest.raises(ValueError, match="existing column"):
        tbl.schedule_indexing("secondary", "nope")
    with pytest.raises(ValueError, match="unknown indexing kind"):
        tbl.schedule_indexing("wat")
    with pytest.raises(ValueError, match="name and expr"):
        tbl.schedule_indexing("expression", "only_name")
    tbl.schedule_indexing("expression", "val_band", "CAST(val / 100 AS INT)")
    assert tbl.run_indexing() == "val_band"
    assert tbl._index_meta("val_band") is not None


def test_archival_keeps_pending_plans(tbl, spark):
    plan = tbl.schedule_indexing("record_index")
    for b in range(1, 26):
        tbl.upsert(_batch(spark, b, b * 10, b * 10 + 5))
    tbl.archive_timeline(retain_instants=5)
    assert [i.instant for i in tbl.pending_indexings()] == [plan]
    assert tbl.run_indexing() == "record_index"


def test_sql_front_door(tbl, spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    s = Engine(spark, str(tmp_path / "wh"))
    s.register("t", tbl)
    s.sql("CALL run_indexing('t', 'schedule', 'secondary', 'val')")
    rows = s.sql("CALL show_indexing('t')").collect()
    assert len(rows) == 1 and rows[0]["kind"] == "secondary" and rows[0]["name"] == "val"
    s.sql("CALL run_indexing('t', 'execute')")
    assert s.sql("CALL show_indexing('t')").count() == 0
    assert tbl._index_meta("val") is not None
