"""COW table semantics: the quickstart.sql lifecycle re-run against our engine.

Mirrors the reference's differential strategy (``TestAutomationUtils.scala:57-83``):
every assertion is an except/intersect-style comparison against expected DataFrames.
Fixture = the trips table of ``spark/sql/quickstart.sql:9-35``.
"""

from __future__ import annotations

import pytest

from hudi_examples_spark.table import MergeClause, Table, TableConfig

TRIPS_SCHEMA = "ts BIGINT, uuid STRING, rider STRING, driver STRING, fare DOUBLE, city STRING"

ROWS = [
    (1695159649087, "334e26e9", "rider-A", "driver-K", 19.10, "san_francisco"),
    (1695091554788, "e96c4396", "rider-C", "driver-M", 27.70, "san_francisco"),
    (1695046462179, "9909a8b1", "rider-D", "driver-L", 33.90, "san_francisco"),
    (1695332066204, "1dced545", "rider-E", "driver-O", 93.50, "san_francisco"),
    (1695516137016, "e3cf430c", "rider-F", "driver-P", 34.15, "sao_paulo"),
    (1695376420876, "7a84095f", "rider-G", "driver-Q", 43.40, "sao_paulo"),
    (1695173887231, "3eeb61f7", "rider-I", "driver-S", 41.06, "chennai"),
    (1695115999911, "c8abbe79", "rider-J", "driver-T", 17.85, "chennai"),
]


def trips_df(spark, rows=None):
    return spark.createDataFrame(rows or ROWS, TRIPS_SCHEMA.replace(" BIGINT", " LONG", 0))


def make_table(spark, tmp_path, **cfg):
    defaults = dict(
        record_key=["uuid"], precombine="ts", partition_by=["city"], table_type="cow"
    )
    defaults.update(cfg)
    return Table.create(spark, str(tmp_path / "tbl"), TRIPS_SCHEMA, TableConfig(**defaults))


def assert_same(df, expected_df):
    a = df.select(*sorted(df.columns))
    b = expected_df.select(*sorted(expected_df.columns))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (
        f"mismatch:\nactual={sorted(map(str, a.collect()))}\nexpected={sorted(map(str, b.collect()))}"
    )


def test_create_insert_read_roundtrip(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    assert tbl.count() == 8  # quickstart.sql:37 "Below Count should be 8"
    assert_same(tbl.read(), trips_df(spark))
    # meta columns exist and are populated (TestAutomationUtils.scala:50)
    meta = tbl.read(with_meta=True)
    row = meta.filter(meta.uuid == "334e26e9").collect()[0]
    assert row["_hoodie_record_key"] == "334e26e9"
    assert row["_hoodie_partition_path"] == "city=san_francisco"


def test_upsert_updates_and_inserts(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    batch = [
        (1695159649999, "334e26e9", "rider-A", "driver-K", 99.0, "san_francisco"),  # update
        (1695500000000, "zz-new-01", "rider-Z", "driver-Z", 10.0, "chennai"),  # insert
    ]
    tbl.upsert(trips_df(spark, batch))
    assert tbl.count() == 9
    got = {r["uuid"]: r["fare"] for r in tbl.read().collect()}
    assert got["334e26e9"] == 99.0 and got["zz-new-01"] == 10.0


def test_precombine_out_of_order_loses(spark, tmp_path):
    """Late event with smaller ts must NOT overwrite (DeltaStreamerExample.scala:16,27)."""
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    stale = [(1, "334e26e9", "rider-A", "driver-K", 1.23, "san_francisco")]
    tbl.upsert(trips_df(spark, stale))
    fare = tbl.read().filter("uuid = '334e26e9'").collect()[0]["fare"]
    assert fare == 19.10


def test_update_where_and_delete_where(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    tbl.update_where("rider = 'rider-D'", {"fare": "25.0"})  # quickstart.sql:44
    assert tbl.read().filter("rider = 'rider-D'").collect()[0]["fare"] == 25.0
    tbl.delete_where("uuid = '334e26e9'")  # quickstart.sql:69-71
    assert tbl.read().filter("uuid = '334e26e9'").count() == 0
    assert tbl.count() == 7


def test_delete_by_keys(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    keys = spark.createDataFrame([("e96c4396",), ("c8abbe79",)], "uuid STRING")
    tbl.delete(keys)
    assert tbl.count() == 6
    assert tbl.read().filter("uuid in ('e96c4396','c8abbe79')").count() == 0


def test_merge_update_all_insert_all(spark, tmp_path):
    """quickstart.sql:58-63: MERGE fare_adjustment (2 updates + 2 inserts)."""
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    adj = [
        (1695159649087, "334e26e9", "rider-A", "driver-K", 25.95, "san_francisco"),
        (1695516137016, "e3cf430c", "rider-F", "driver-P", 38.74, "sao_paulo"),
        (1695046452379, "aaaa1111", "rider-D", "driver-L", 9.90, "san_francisco"),
        (1695115199911, "bbbb2222", "rider-J", "driver-T", 60.00, "chennai"),
    ]
    tbl.merge(trips_df(spark, adj))
    assert tbl.count() == 10  # quickstart.sql:66 "Below count should be 10"
    got = {r["uuid"]: r["fare"] for r in tbl.read().collect()}
    assert got["334e26e9"] == 25.95 and got["e3cf430c"] == 38.74
    assert got["aaaa1111"] == 9.90 and got["bbbb2222"] == 60.00


def test_merge_partial_update(spark, tmp_path):
    """Job.py:125-127: WHEN MATCHED THEN UPDATE SET target.col = source.col only."""
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    src = spark.createDataFrame([("334e26e9", 123.45)], "uuid STRING, new_fare DOUBLE")
    tbl.merge(
        src,
        on={"uuid": "uuid"},
        clauses=[MergeClause("matched", "update", {"fare": "source.new_fare"})],
    )
    row = tbl.read().filter("uuid = '334e26e9'").collect()[0]
    assert row["fare"] == 123.45 and row["rider"] == "rider-A"  # other cols kept
    assert tbl.count() == 8


def test_merge_matched_delete(spark, tmp_path):
    """Job.py:131-133: WHEN MATCHED THEN DELETE."""
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    src = spark.createDataFrame([("334e26e9",), ("nope",)], "uuid STRING")
    tbl.merge(src, on={"uuid": "uuid"}, clauses=[MergeClause("matched", "delete")])
    assert tbl.count() == 7
    assert tbl.read().filter("uuid = '334e26e9'").count() == 0


def test_time_travel(spark, tmp_path):
    """quickstart.sql:74-77: TIMESTAMP AS OF with instant id."""
    tbl = make_table(spark, tmp_path)
    first = tbl.insert(trips_df(spark))
    tbl.upsert(trips_df(spark, [(9999999999999, "334e26e9", "rider-A", "driver-K", 77.0, "san_francisco")]))
    assert tbl.read().filter("uuid = '334e26e9'").collect()[0]["fare"] == 77.0
    old = tbl.read(as_of=first)
    assert old.filter("uuid = '334e26e9'").collect()[0]["fare"] == 19.10
    assert old.count() == 8


def test_incremental_changes(spark, tmp_path):
    """quickstart.sql:80-86: hudi_table_changes(latest_state, begin)."""
    tbl = make_table(spark, tmp_path)
    first = tbl.insert(trips_df(spark))
    batch = [
        (1695159650000, "334e26e9", "rider-A", "driver-K", 55.0, "san_francisco"),
        (1695500000000, "new-inc-1", "rider-Y", "driver-Y", 5.0, "chennai"),
    ]
    tbl.upsert(trips_df(spark, batch))
    changes = tbl.table_changes(start=first)
    got = {r["uuid"]: r["fare"] for r in changes.collect()}
    assert got == {"334e26e9": 55.0, "new-inc-1": 5.0}
    # 'earliest' returns everything (latest state)
    assert tbl.table_changes(start="earliest").count() == 9


def test_insert_overwrite(spark, tmp_path):
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    repl = [(1, "only-row", "r", "d", 1.0, "chennai")]
    tbl.insert_overwrite(trips_df(spark, repl))
    assert tbl.count() == 1
    assert tbl.read().collect()[0]["uuid"] == "only-row"


def test_rollback_and_heal(spark, tmp_path):
    """compatibility_test.sh:155-186: rollback restores prior state; partial
    (uncommitted) data dirs are invisible and healable."""
    import os

    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    tbl.upsert(trips_df(spark, [(9999999999999, "334e26e9", "x", "x", 1.0, "san_francisco")]))
    assert tbl.read().filter("uuid='334e26e9'").collect()[0]["fare"] == 1.0
    tbl.rollback()
    assert tbl.count() == 8
    assert tbl.read().filter("uuid='334e26e9'").collect()[0]["fare"] == 19.10
    # orphan file (simulated crash mid-write, no timeline entry) is ignored + healed
    orphan = os.path.join(tbl.base, "city=chennai", "99999999999999999_00000.parquet")
    open(orphan, "w").close()
    assert tbl.count() == 8
    assert "city=chennai/99999999999999999_00000.parquet" in tbl.heal()
    assert not os.path.exists(orphan)


def test_pkless_table_appends(spark, tmp_path):
    """spark_sql_testing.sh:87-93: pk-less rows are legal; upsert degrades to append."""
    tbl = make_table(spark, tmp_path, record_key=[], precombine=None)
    tbl.insert(trips_df(spark))
    tbl.upsert(trips_df(spark))
    assert tbl.count() == 16


def test_partition_pruned_rewrite(spark, tmp_path):
    """COW upsert rewrites ONLY the file groups holding affected keys.

    Untouched partitions survive, and — file-group scoping, round 4 — a pure
    INSERT of a brand-new key doesn't rewrite anything either: the key-range/
    bloom prune proves no live file holds it, so the batch lands in a new file
    and every existing file (including the target partition's) stays live.
    An UPDATE of an existing key, by contrast, must replace its holder file."""
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    files_before, _ = tbl.timeline.live_files()
    sp_files = {f for f in files_before if "city=sao_paulo" in f}
    ch_files = {f for f in files_before if "city=chennai" in f}

    # new key OUTSIDE every file's key range -> append-only: nothing rewritten
    # (a key inside a range would legitimately rewrite that file — the range
    # index can't see inside the file; that's the bloom index's job)
    tbl.upsert(trips_df(spark, [(9999999999999, "zz-new-key", "rider-NEW", "driver-S", 3.0, "chennai")]))
    files_after, _ = tbl.timeline.live_files()
    assert set(files_before) <= set(files_after), "pure insert must not rewrite any file group"
    assert tbl.read().filter("rider = 'rider-NEW'").count() == 1

    # existing chennai key updated -> its holder file group is replaced,
    # sao_paulo still untouched
    chen = tbl.read().filter("uuid = 'c8abbe79'").first()  # a seed chennai row
    tbl.upsert(
        trips_df(spark, [(chen["ts"] + 1, chen["uuid"], chen["rider"], chen["driver"], 99.0, "chennai")])
    )
    files_final, _ = tbl.timeline.live_files()
    assert sp_files <= set(files_final), "untouched partition files were rewritten"
    # only the HOLDER file group is replaced; a chennai file holding other
    # keys may survive (that's the per-file-group granularity working)
    assert ch_files - set(files_final), "updated key's holder file group must be replaced"
    assert tbl.read().filter(f"uuid = '{chen['uuid']}'").first()["fare"] == 99.0


def test_cdc_write(spark, tmp_path):
    """HudiDataStreamWriter.java:170-182: I/U/D row kinds through one sink."""
    tbl = make_table(spark, tmp_path)
    tbl.insert(trips_df(spark))
    cdc_rows = [
        (1695159650001, "334e26e9", "rider-A", "driver-K", 42.0, "san_francisco", "U"),
        (1695500000002, "cdc-new-1", "rider-N", "driver-N", 7.0, "chennai", "I"),
        (1695115999911, "c8abbe79", "rider-J", "driver-T", 17.85, "chennai", "D"),
    ]
    cdc = spark.createDataFrame(cdc_rows, TRIPS_SCHEMA + ", _op STRING")
    tbl.write_cdc(cdc)
    got = {r["uuid"]: r["fare"] for r in tbl.read().collect()}
    assert got["334e26e9"] == 42.0 and got["cdc-new-1"] == 7.0
    assert "c8abbe79" not in got
    assert tbl.count() == 8


def test_ctas(spark, tmp_path):
    """M6: CREATE TABLE AS SELECT."""
    src = trips_df(spark).filter("fare > 20")
    tbl = Table.create_as(
        spark,
        str(tmp_path / "ctas"),
        src,
        TableConfig(record_key=["uuid"], precombine="ts", partition_by=["city"]),
    )
    assert tbl.count() == 6  # quickstart.sql:40 analogue
