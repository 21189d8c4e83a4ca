"""SURVEY §1 type-surface fidelity: every type the reference exercises
(BIGINT, STRING, DOUBLE, DECIMAL(10,4), INT, BOOLEAN, DATE, TIMESTAMP) must
round-trip the keyed table layer — create, insert, upsert, snapshot,
time travel — with exact values and an unchanged schema.

Parity: quickstart.sql:9-21 (DECIMAL(10,4)), consistent_hashing.sql:12-16
(INT/BOOLEAN/DATE), Datagen.py:43 (DATE), HudiDataStreamWriter.java:109
(TIMESTAMP(3)).
"""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hudi_examples_spark.table import MergeClause, Table, TableConfig

SCHEMA = StructType(
    [
        StructField("ts", LongType()),
        StructField("uuid", StringType()),
        StructField("fare", DoubleType()),
        StructField("tip", DecimalType(10, 4)),
        StructField("seats", IntegerType()),
        StructField("pool", BooleanType()),
        StructField("ride_date", DateType()),
        StructField("picked_at", TimestampType()),
    ]
)

ROW1 = (
    1,
    "a",
    19.1,
    Decimal("12.3456"),
    3,
    True,
    datetime.date(2024, 3, 7),
    datetime.datetime(2024, 3, 7, 9, 16, 28, 123000),
)
ROW2 = (
    1,
    "b",
    27.7,
    Decimal("0.0001"),
    1,
    False,
    datetime.date(2022, 12, 31),
    datetime.datetime(2022, 12, 31, 23, 59, 59, 999000),
)


def test_all_reference_types_roundtrip(spark, tmp_path):
    tbl = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(record_key=["uuid"], precombine="ts"),
    )
    tbl.insert(spark.createDataFrame([ROW1, ROW2], SCHEMA))
    got = tbl.read()
    assert got.schema["tip"].dataType == DecimalType(10, 4)
    assert [f.dataType for f in got.schema.fields] == [f.dataType for f in SCHEMA.fields]
    rows = {r["uuid"]: r for r in got.collect()}
    assert rows["a"]["tip"] == Decimal("12.3456")
    assert rows["a"]["pool"] is True and rows["b"]["pool"] is False
    assert rows["a"]["ride_date"] == datetime.date(2024, 3, 7)
    assert rows["b"]["picked_at"] == datetime.datetime(2022, 12, 31, 23, 59, 59, 999000)

    first = tbl.latest_instant()
    upd = (2, "a", 25.0, Decimal("9999.9999"), 4, False, ROW1[6], ROW1[7])
    tbl.upsert(spark.createDataFrame([upd], SCHEMA))
    rows = {r["uuid"]: r for r in tbl.read().collect()}
    assert rows["a"]["tip"] == Decimal("9999.9999") and rows["a"]["seats"] == 4
    # time travel preserves the original typed values
    old = {r["uuid"]: r for r in tbl.read(as_of=first).collect()}
    assert old["a"]["tip"] == Decimal("12.3456") and old["a"]["pool"] is True


def test_decimal_precision_in_aggregation(spark, tmp_path):
    """DECIMAL sums stay exact (no float drift) through the table layer."""
    tbl = Table.create(
        spark,
        str(tmp_path / "d"),
        SCHEMA,
        TableConfig(record_key=["uuid"], precombine="ts"),
    )
    rows = [
        (1, f"k{i}", 0.0, Decimal("0.1000"), 1, True, ROW1[6], ROW1[7]) for i in range(100)
    ]
    tbl.insert(spark.createDataFrame(rows, SCHEMA))
    from pyspark.sql import functions as F

    total = tbl.read().agg(F.sum("tip").alias("s")).collect()[0]["s"]
    assert total == Decimal("10.0000")  # 100 × 0.1 exact, which doubles cannot do


def test_inferred_wider_batch_does_not_poison_table(spark, tmp_path):
    """The normal case: a batch built from Python rows infers bigint/double
    (``createDataFrame`` with column names only) into INT/FLOAT/DECIMAL
    columns. The write path must reconcile types — either cast to the declared
    type or promote the table schema — so every later declared-schema read
    still works. (Round-2 regression: INT64 written into an INT column made
    all subsequent reads throw PARQUET_COLUMN_DATA_TYPE_MISMATCH.)"""
    from pyspark.sql.types import FloatType, ShortType

    schema = StructType(
        [
            StructField("uuid", StringType()),
            StructField("ts", LongType()),
            StructField("v", IntegerType()),
            StructField("small", ShortType()),
            StructField("f", FloatType()),
            StructField("d", DecimalType(10, 2)),
        ]
    )
    tbl = Table.create(
        spark,
        str(tmp_path / "w"),
        schema,
        TableConfig(record_key=["uuid"], precombine="ts"),
    )
    # typed first write establishes narrow parquet files
    tbl.insert(spark.createDataFrame([("a", 1, 10, 2, 1.5, Decimal("3.14"))], schema))
    # second batch: inferred types only (bigint, bigint, bigint, double, decimal(38,18)-ish)
    inferred = spark.createDataFrame(
        [("b", 2, 20, 4, 2.5, 6.28)], ["uuid", "ts", "v", "small", "f", "d"]
    )
    tbl.upsert(inferred)
    got = {r["uuid"]: r for r in tbl.read().collect()}
    assert got["a"]["v"] == 10 and got["b"]["v"] == 20
    assert got["a"]["small"] == 2 and got["b"]["small"] == 4
    assert abs(got["b"]["f"] - 2.5) < 1e-6
    # third write + read-after-write on the mixed-file table must also work
    tbl.upsert(spark.createDataFrame([("a", 3, 11, 3, 9.9, 1.23)], ["uuid", "ts", "v", "small", "f", "d"]))
    got = {r["uuid"]: r for r in tbl.read().collect()}
    assert got["a"]["v"] == 11
    assert tbl.read().count() == 2


def test_widening_promotes_schema(spark, tmp_path):
    """Hudi type promotion: a batch whose column is strictly wider than the
    declared type WIDENS the table schema (int→long, float→double, decimal
    growth) instead of narrowing the data; files written at the old width
    stay readable via Spark's widened parquet reads."""
    from pyspark.sql.types import FloatType

    schema = StructType(
        [
            StructField("uuid", StringType()),
            StructField("ts", LongType()),
            StructField("n", IntegerType()),
            StructField("x", FloatType()),
        ]
    )
    tbl = Table.create(
        spark,
        str(tmp_path / "g"),
        schema,
        TableConfig(record_key=["uuid"], precombine="ts"),
    )
    tbl.insert(spark.createDataFrame([("a", 1, 7, 1.5)], schema))
    wide = StructType(
        [
            StructField("uuid", StringType()),
            StructField("ts", LongType()),
            StructField("n", LongType()),
            StructField("x", DoubleType()),
        ]
    )
    big = 2**40  # does not fit in INT — must promote, not overflow-cast
    tbl.upsert(spark.createDataFrame([("b", 2, big, 2.5)], wide))
    assert tbl.schema["n"].dataType == LongType()
    assert tbl.schema["x"].dataType == DoubleType()
    got = {r["uuid"]: r for r in tbl.read().collect()}
    assert got["b"]["n"] == big and got["a"]["n"] == 7
    assert abs(got["a"]["x"] - 1.5) < 1e-6
    # reopening from disk sees the promoted schema
    reopened = Table(spark, tbl.base)
    assert reopened.schema["n"].dataType == LongType()
    assert {r["uuid"]: r["n"] for r in reopened.read().collect()}["b"] == big


def test_date_partitioning(spark, tmp_path):
    """DATE as the hive partition column (Datagen.py partition shape)."""
    tbl = Table.create(
        spark,
        str(tmp_path / "p"),
        SCHEMA,
        TableConfig(record_key=["uuid"], precombine="ts", partition_by=["ride_date"]),
    )
    tbl.insert(spark.createDataFrame([ROW1, ROW2], SCHEMA))
    import os

    dirs = [d for d in os.listdir(tbl.base) if d.startswith("ride_date=")]
    assert sorted(dirs) == ["ride_date=2022-12-31", "ride_date=2024-03-07"]
    assert tbl.read().filter("ride_date = DATE'2024-03-07'").count() == 1


import pytest


@pytest.mark.parametrize(
    "declared,batch,expected",
    [
        ("INT", "BIGINT", "bigint"),      # widen
        ("SMALLINT", "INT", "int"),       # widen
        ("FLOAT", "DOUBLE", "double"),    # widen
        ("INT", "DOUBLE", "double"),      # widen (int→double)
        ("DECIMAL(5,2)", "DECIMAL(10,2)", "decimal(10,2)"),  # widen precision
        ("DECIMAL(5,2)", "DECIMAL(10,4)", "decimal(10,4)"),  # widen precision+scale
        ("BIGINT", "INT", "bigint"),      # narrow batch → cast up, schema keeps
        ("DOUBLE", "FLOAT", "double"),    # narrow batch → cast up
        ("INT", "STRING", "int"),         # non-promotable → cast to declared
        ("DECIMAL(10,2)", "DECIMAL(5,4)", "decimal(10,2)"),  # integral part shrinks → cast
    ],
)
def test_promotion_matrix(spark, tmp_path, declared, batch, expected):
    """Hudi type-promotion lattice through the write path: the table schema
    widens exactly for safe parquet-readable widenings and casts otherwise;
    in every case the table stays readable (no parquet type poisoning) and
    reopening from disk agrees with the in-memory schema."""
    from pyspark.sql.types import StructType

    tbl = Table.create(
        spark,
        str(tmp_path / "m"),
        f"uuid STRING, ts BIGINT, x {declared}",
        TableConfig(record_key=["uuid"], precombine="ts"),
    )
    first = spark.createDataFrame([("a", 1, "1")], "uuid STRING, ts BIGINT, x STRING").select(
        "uuid", "ts", F.col("x").cast(declared)
    )
    tbl.insert(first)
    second = spark.createDataFrame([("b", 2, "2")], "uuid STRING, ts BIGINT, x STRING").select(
        "uuid", "ts", F.col("x").cast(batch)
    )
    tbl.upsert(second)
    assert tbl.schema["x"].dataType.simpleString() == expected
    rows = {r["uuid"]: r["x"] for r in tbl.read().collect()}
    assert len(rows) == 2 and rows["a"] is not None and rows["b"] is not None
    reopened = Table(spark, tbl.base)
    assert reopened.schema["x"].dataType.simpleString() == expected
    assert reopened.read().count() == 2



def test_sql_literal_types_conform_through_dml(spark, tmp_path):
    """Regression (round 3): ``UPDATE ... SET fare = 1.0`` produces a
    DECIMAL(2,1) literal; written raw into a DOUBLE column, the
    declared-schema read silently decodes the decimal's UNSCALED int
    (1.0 → 10.0). Every mutation path must conform batch dtypes — the write
    path's _conform net, not the caller, is the guarantee."""
    for ttype in ("cow", "mor"):
        tbl = Table.create(
            spark,
            str(tmp_path / f"dml_{ttype}"),
            "k STRING, v DOUBLE, ts BIGINT, city STRING",
            TableConfig(record_key=["k"], precombine="ts", table_type=ttype, partition_by=["city"]),
        )
        tbl.insert(
            spark.createDataFrame([("a", 10.0, 100, "sf"), ("b", 20.0, 100, "ny")], tbl.schema)
        )
        tbl.update_where("k = 'a'", {"v": "1.0"})  # decimal literal into DOUBLE
        tbl.merge(
            spark.createDataFrame([("b", 200)], "k STRING, v BIGINT"),  # long into DOUBLE
            clauses=[MergeClause("matched", "update", {"v": "source.v"})],
        )
        got = {r["k"]: r["v"] for r in tbl.read().collect()}
        assert got == {"a": 1.0, "b": 200.0}
        assert tbl.schema["v"].dataType.simpleString() == "double"
