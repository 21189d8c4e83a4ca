"""Schema evolution: ALTER TABLE ADD COLUMNS + schema-on-write auto-evolution.

Hudi semantics: new columns are nullable; files written before the evolution
read as null for them (merged-schema scan); snapshots and time-travel reads
always present the CURRENT schema; a batch carrying unknown columns widens
the table schema automatically.
"""

from __future__ import annotations

import pytest

from hudi_examples_spark.sql import Engine
from hudi_examples_spark.table import Table, TableConfig


@pytest.fixture
def tbl(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        "ts BIGINT, uuid STRING, fare DOUBLE",
        TableConfig(record_key=["uuid"], precombine="ts"),
    )
    t.insert(spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "ts BIGINT, uuid STRING, fare DOUBLE"))
    return t


def test_add_columns_nulls_old_rows(spark, tbl):
    tbl.add_columns("tip DOUBLE, city STRING")
    rows = {r["uuid"]: r for r in tbl.read().collect()}
    assert rows["a"]["tip"] is None and rows["a"]["city"] is None
    tbl.upsert(
        spark.createDataFrame(
            [(3, "c", 30.0, 3.5, "sf")], "ts BIGINT, uuid STRING, fare DOUBLE, tip DOUBLE, city STRING"
        )
    )
    rows = {r["uuid"]: r for r in tbl.read().collect()}
    assert rows["c"]["tip"] == 3.5 and rows["c"]["city"] == "sf"
    assert rows["a"]["tip"] is None  # pre-evolution file null-filled


def test_update_of_old_row_after_evolution(spark, tbl):
    """COW rewrite of a pre-evolution row must carry the widened schema."""
    tbl.add_columns("tip DOUBLE")
    tbl.upsert(spark.createDataFrame([(5, "a", 11.0, 1.5)], "ts BIGINT, uuid STRING, fare DOUBLE, tip DOUBLE"))
    rows = {r["uuid"]: r for r in tbl.read().collect()}
    assert rows["a"]["fare"] == 11.0 and rows["a"]["tip"] == 1.5
    assert rows["b"]["tip"] is None


def test_auto_evolution_on_upsert(spark, tbl):
    """A batch with an unknown column widens the schema (schema-on-write)."""
    tbl.upsert(
        spark.createDataFrame([(4, "d", 40.0, "promo")], "ts BIGINT, uuid STRING, fare DOUBLE, src STRING")
    )
    assert "src" in tbl.schema.names
    rows = {r["uuid"]: r for r in tbl.read().collect()}
    assert rows["d"]["src"] == "promo" and rows["a"]["src"] is None
    # reopened handle sees the persisted evolved schema
    again = Table(spark, tbl.base)
    assert "src" in again.schema.names


def test_time_travel_presents_current_schema(spark, tbl):
    first = tbl.latest_instant()
    tbl.add_columns("tip DOUBLE")
    tbl.upsert(spark.createDataFrame([(9, "z", 1.0, 0.5)], "ts BIGINT, uuid STRING, fare DOUBLE, tip DOUBLE"))
    tt = tbl.read(as_of=first)
    assert "tip" in tt.columns  # current schema, like Hudi
    assert {r["uuid"] for r in tt.collect()} == {"a", "b"}


def test_add_existing_column_rejected(tbl):
    with pytest.raises(ValueError):
        tbl.add_columns("fare DOUBLE")


def test_alter_table_sql(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE t1 (ts BIGINT, uuid STRING, fare DOUBLE) USING hudi "
        "TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts')"
    )
    eng.sql("INSERT INTO t1 VALUES (1, 'a', 10.0)")
    eng.sql("ALTER TABLE t1 ADD COLUMNS (tip DOUBLE)")
    eng.sql("INSERT INTO t1 VALUES (2, 'b', 20.0, 2.5)")
    rows = {r["uuid"]: r for r in eng.sql("SELECT * FROM t1").collect()}
    assert rows["a"]["tip"] is None and rows["b"]["tip"] == 2.5


def test_interleaved_evolution_from_stale_handles_loses_nothing(spark, tmp_path):
    """Two handles on the same table (separate processes in real life) each
    auto-evolve a DIFFERENT column from a stale view of the schema. The props
    save must union-merge with disk instead of blind-overwriting — otherwise
    the second save silently drops the first writer's column."""
    from hudi_examples_spark.table import Table, TableConfig

    base = str(tmp_path / "t")
    t1 = Table.create(
        spark, base, "k STRING, ts BIGINT", TableConfig(record_key=["k"], precombine="ts")
    )
    t1.insert(spark.createDataFrame([("a", 1)], "k STRING, ts BIGINT"))
    t2 = Table(spark, base)  # second handle, schema snapshot taken now
    t1.upsert(spark.createDataFrame([("b", 2, 5.0)], "k STRING, ts BIGINT, x DOUBLE"))
    assert "x" in t1.schema.names
    # t2 still believes the schema is (k, ts); its evolution adds y
    t2.upsert(spark.createDataFrame([("c", 3, "hi")], "k STRING, ts BIGINT, y STRING"))
    reopened = Table(spark, base)
    assert set(reopened.schema.names) >= {"k", "ts", "x", "y"}, "neither evolution lost"
    rows = {r["k"]: r for r in reopened.read().collect()}
    assert rows["b"]["x"] == 5.0 and rows["c"]["y"] == "hi"
    assert rows["a"]["x"] is None and rows["a"]["y"] is None


def test_stale_handle_write_preserves_concurrent_evolution_data(spark, tmp_path):
    """Code-review round-3 finding: a stale handle whose OWN batch does not
    widen anything must still adopt a concurrent writer's evolved column
    before rewriting files — otherwise the COW rewrite drops that column's
    DATA (not just the declaration) from every touched file."""
    from hudi_examples_spark.table import Table, TableConfig

    base = str(tmp_path / "t")
    t1 = Table.create(
        spark, base, "k STRING, ts BIGINT", TableConfig(record_key=["k"], precombine="ts")
    )
    t1.insert(spark.createDataFrame([("a", 1), ("b", 1)], "k STRING, ts BIGINT"))
    t2 = Table(spark, base)  # stale: believes schema is (k, ts)
    t1.upsert(spark.createDataFrame([("a", 2, 7.5)], "k STRING, ts BIGINT, x DOUBLE"))
    # t2's batch is plain (k, ts): no widening from ITS perspective
    t2.upsert(spark.createDataFrame([("b", 3)], "k STRING, ts BIGINT"))
    rows = {r["k"]: r for r in Table(spark, base).read().collect()}
    assert rows["a"]["x"] == 7.5, "concurrent evolution's data survives the stale rewrite"
    assert rows["b"]["ts"] == 3 and rows["b"]["x"] is None


# ---------------------------------------------------------------- drop/rename


def test_drop_column_metadata_only(spark, tbl):
    tbl.drop_columns(["fare"])
    assert "fare" not in tbl.schema.names
    rows = {r["uuid"]: r.asDict() for r in tbl.read().collect()}
    assert set(rows) == {"a", "b"} and "fare" not in rows["a"]
    # later writes simply don't carry the column
    tbl.upsert(spark.createDataFrame([(3, "c")], "ts BIGINT, uuid STRING"))
    assert tbl.count() == 3


def test_drop_column_not_resurrected(spark, tbl):
    tbl.drop_columns(["fare"])
    # explicit re-add of the dropped name is rejected (old bytes would leak back)
    with pytest.raises(ValueError, match="dropped"):
        tbl.add_columns("fare DOUBLE")
    # auto-evolution must not resurrect it either: a batch carrying the old
    # name writes every OTHER column, silently shedding the tombstoned one
    tbl.upsert(
        spark.createDataFrame([(3, "c", 99.0)], "ts BIGINT, uuid STRING, fare DOUBLE")
    )
    assert "fare" not in tbl.schema.names
    assert "fare" not in tbl.read().columns
    # a stale handle re-opening also sees the drop
    again = Table(spark, tbl.base)
    assert "fare" not in again.schema.names


def test_drop_protected_column_rejected(tbl):
    with pytest.raises(ValueError, match="key/precombine/partition"):
        tbl.drop_columns(["uuid"])
    with pytest.raises(ValueError, match="key/precombine/partition"):
        tbl.drop_columns(["ts"])


def test_rename_column_preserves_old_files(spark, tbl):
    tbl.rename_column("fare", "amount")
    got = {r["uuid"]: r["amount"] for r in tbl.read().collect()}
    assert got == {"a": 10.0, "b": 20.0}  # pre-rename files read via the chain
    # new writes use the new name; both generations coalesce in one read
    tbl.upsert(spark.createDataFrame([(3, "c", 30.0)], "ts BIGINT, uuid STRING, amount DOUBLE"))
    got = {r["uuid"]: r["amount"] for r in tbl.read().collect()}
    assert got == {"a": 10.0, "b": 20.0, "c": 30.0}
    # chained rename keeps walking the history
    tbl.rename_column("amount", "total")
    got = {r["uuid"]: r["total"] for r in tbl.read().collect()}
    assert got == {"a": 10.0, "b": 20.0, "c": 30.0}
    assert "fare" not in tbl.read().columns and "amount" not in tbl.read().columns


def test_rename_rejected_cases(tbl):
    with pytest.raises(ValueError, match="does not exist"):
        tbl.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("fare", "ts")
    with pytest.raises(ValueError, match="key/precombine/partition"):
        tbl.rename_column("uuid", "uuid2")


def test_stale_handle_adopts_concurrent_rename(spark, tbl):
    stale = Table(spark, tbl.base)  # opened before the rename
    tbl.rename_column("fare", "amount")
    # the stale handle's next write adopts the rename instead of duplicating
    # the column under its old name
    stale.upsert(spark.createDataFrame([(5, "a", 11.0)], "ts BIGINT, uuid STRING, fare DOUBLE"))
    assert "amount" in stale.schema.names and "fare" not in stale.schema.names
    got = {r["uuid"]: r["amount"] for r in Table(spark, tbl.base).read().collect()}
    assert got == {"a": 11.0, "b": 20.0}


def test_rename_and_drop_sql_frontdoor(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE t (ts BIGINT, uuid STRING, fare DOUBLE, note STRING) USING hudi "
        "TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts')"
    )
    eng.sql("INSERT INTO t VALUES (1, 'a', 10.0, 'hi')")
    eng.sql("ALTER TABLE t RENAME COLUMN fare TO amount")
    assert {r["amount"] for r in eng.sql("SELECT amount FROM t").collect()} == {10.0}
    eng.sql("ALTER TABLE t DROP COLUMN note")
    assert "note" not in eng.sql("SELECT * FROM t").columns


def test_historical_name_cannot_be_readded(spark, tbl):
    """Re-adding a rename-log 'from' name would leak old file bytes into the
    new column and break the chain coalesce — rejected everywhere."""
    tbl.rename_column("fare", "amount")
    with pytest.raises(ValueError, match="historical name"):
        tbl.add_columns("fare DOUBLE")
    # auto-evolution sheds it too (batch carrying BOTH names: old one ignored)
    tbl.upsert(
        spark.createDataFrame(
            [(9, "a", 55.0, 1.0)], "ts BIGINT, uuid STRING, amount DOUBLE, fare DOUBLE"
        )
    )
    assert "fare" not in tbl.schema.names
    got = {r["uuid"]: r["amount"] for r in tbl.read().collect()}
    assert got == {"a": 55.0, "b": 20.0}  # amount kept its chain data
    # renaming another column ONTO a historical name is rejected as well
    tbl.add_columns("extra DOUBLE")
    with pytest.raises(ValueError, match="historical name"):
        tbl.rename_column("extra", "fare")


def test_rename_then_drop_tombstones_whole_chain(spark, tbl):
    """After rename fare→amount then drop amount, neither name may return —
    and a write carrying the original name must not silently write data that
    the tombstone then makes unreadable."""
    tbl.rename_column("fare", "amount")
    tbl.drop_columns(["amount"])
    assert "amount" not in tbl.schema.names
    with pytest.raises(ValueError, match="dropped"):
        tbl.add_columns("amount DOUBLE")
    with pytest.raises(ValueError, match="dropped"):
        tbl.add_columns("fare DOUBLE")
    # auto-evolution sheds the historical name instead of resurrect-then-strip
    tbl.upsert(spark.createDataFrame([(9, "z", 1.0)], "ts BIGINT, uuid STRING, fare DOUBLE"))
    assert "fare" not in tbl.schema.names and "amount" not in tbl.schema.names
    assert {r["uuid"] for r in tbl.read().collect()} == {"a", "b", "z"}
    # a re-opened handle agrees (tombstones survive the props round-trip)
    again = Table(spark, tbl.base)
    assert "fare" not in again.schema.names and "amount" not in again.schema.names


def test_drop_sql_rejects_malformed_statements(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh2"))
    eng.sql(
        "CREATE TABLE t2 (ts BIGINT, uuid STRING, note STRING) USING hudi "
        "TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts')"
    )
    for bad in (
        "ALTER TABLE t2 DROP COLUMNSnote",
        "ALTER TABLE t2 DROP COLUMN (note",
        "ALTER TABLE t2 DROP COLUMN note)",
    ):
        with pytest.raises(ValueError, match="supported"):
            eng.sql(bad)
    assert "note" in eng.sql("SELECT * FROM t2").columns


def test_rename_drop_of_indexed_column_rejected(spark, tbl):
    """Evolving a column an index expression references would leave the
    index maintenance pointing at a dead name (silently incomplete lookups)
    — rejected up front; dropping the index unblocks the evolution."""
    tbl.create_secondary_index("fare")
    tbl.create_expression_index("fare_band", "CAST(fare / 10 AS INT)")
    with pytest.raises(ValueError, match="referenced by secondary"):
        tbl.rename_column("fare", "price")
    with pytest.raises(ValueError, match="referenced by secondary"):
        tbl.drop_columns(["fare"])
    tbl.drop_index("fare")
    with pytest.raises(ValueError, match="fare_band"):
        tbl.rename_column("fare", "price")  # the expression index still holds it
    tbl.drop_index("fare_band")
    tbl.rename_column("fare", "price")
    assert "price" in tbl.schema.names


def test_dead_expr_maintenance_invalidates_not_silently_skips(spark, tbl):
    """Defense in depth: if an index expression stops analyzing anyway (a
    stale handle's evolution), commit maintenance must INVALIDATE the index
    — a valid-flagged index that silently skipped a commit would answer
    lookups with missing rows."""
    tbl.create_secondary_index("fare")
    # simulate the stale-handle outcome: corrupt the meta to a dead name
    meta = tbl._index_meta("fare")
    meta["expr"] = "no_such_column"
    tbl._write_index_meta("fare", meta)
    tbl.upsert(
        spark.createDataFrame([(9, "z", 90.0)], "ts BIGINT, uuid STRING, fare DOUBLE")
    )
    assert tbl._index_meta("fare").get("valid") is False
