"""Empty-table and degenerate-input edges of the table layer: every read path
and table service must behave sanely on a table with zero commits, zero rows,
or a single row — the states every long-lived table passes through first."""

from __future__ import annotations

import os

import pytest

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "ts BIGINT, uuid STRING, val DOUBLE, part STRING"


@pytest.fixture
def empty(spark, tmp_path):
    return Table.create(
        spark,
        str(tmp_path / "e"),
        SCHEMA,
        TableConfig(record_key=["uuid"], precombine="ts", partition_by=["part"]),
    )


def test_empty_table_reads(spark, empty):
    assert empty.read().count() == 0
    assert empty.read().columns == ["ts", "uuid", "val", "part"]
    assert empty.scan([("ts", ">=", 0)]).count() == 0
    assert empty.count() == 0
    assert empty.latest_instant() is None


def test_empty_table_services_are_noops(spark, empty):
    assert empty.compact() is None
    assert empty.cluster_sort(["ts"], n_files=2) is None
    assert empty.heal() == []
    assert empty.clean() == []
    assert empty.savepoints() == []


def test_empty_table_dml(spark, empty):
    empty.delete_where("val > 0")  # deleting from nothing: fine
    assert empty.count() == 0
    empty.upsert(spark.createDataFrame([(1, "a", 1.0, "p")], SCHEMA))
    assert empty.count() == 1
    empty.rollback()
    assert empty.count() == 0


def test_empty_batch_upsert(spark, empty):
    empty.insert(spark.createDataFrame([(1, "a", 1.0, "p")], SCHEMA))
    empty.upsert(spark.createDataFrame([], SCHEMA))  # zero-row batch
    assert empty.count() == 1
    empty.delete(spark.createDataFrame([], "uuid STRING"))
    assert empty.count() == 1


def test_single_row_lifecycle(spark, tmp_path):
    tbl = Table.create(
        spark,
        str(tmp_path / "one"),
        SCHEMA,
        TableConfig(record_key=["uuid"], precombine="ts", partition_by=["part"], table_type="mor"),
    )
    tbl.insert(spark.createDataFrame([(1, "a", 1.0, "p")], SCHEMA))
    tbl.upsert(spark.createDataFrame([(2, "a", 2.0, "p")], SCHEMA))
    tbl.compact()
    tbl.cluster_sort(["ts"], n_files=2)
    rows = [(r["ts"], r["uuid"], r["val"], r["part"]) for r in tbl.read().collect()]
    assert rows == [(2, "a", 2.0, "p")]


def test_incremental_and_cdc_on_empty_window(spark, empty):
    empty.insert(spark.createDataFrame([(1, "a", 1.0, "p")], SCHEMA))
    latest = empty.latest_instant()
    # window starting at the latest instant: no changes after it
    assert empty.table_changes(start=latest).count() == 0
    assert empty.table_changes_cdc(start=latest).count() == 0


def _table_files(base: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(root, fn), base)
        for root, _dirs, fns in os.walk(base)
        if ".staging" not in root
        for fn in fns
        if fn.endswith(".parquet")
    )


def test_large_corrupt_staged_file_fails_before_any_rename(spark, empty, monkeypatch):
    """Every staged footer is read before promotion: a corrupt part file of
    64 KB or more fails the write while the table directory is untouched."""
    from pyspark.sql.readwriter import DataFrameWriter

    empty.upsert(spark.createDataFrame([(1, "a", 1.0, "p")], SCHEMA))
    before = _table_files(empty.base)
    original = DataFrameWriter.parquet

    def write_then_corrupt(self, path, *args, **kwargs):
        original(self, path, *args, **kwargs)
        with open(os.path.join(path, "part-99999-corrupt.parquet"), "wb") as f:
            f.write(os.urandom(70_000))

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_corrupt)
    with pytest.raises(Exception):
        empty.upsert(spark.createDataFrame([(2, "b", 2.0, "p")], SCHEMA))
    monkeypatch.undo()
    assert _table_files(empty.base) == before
    assert sorted(tuple(r) for r in empty.read().collect()) == [(1, "a", 1.0, "p")]
