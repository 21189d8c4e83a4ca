"""Partition lifecycle: Hudi's ``delete_partition`` write operation (one
metadata-only replacecommit, zero data IO) and the Hudi 1.0 partition-TTL
service (KEEP_BY_TIME: ``run_services`` drops partitions whose newest write
is older than the TTL, with age derived from instant ids — no data reads).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "k BIGINT, val DOUBLE, seg STRING, v INT"
CFG = dict(record_key=["k"], precombine="v", partition_by=["seg"])


def _batch(spark, segs, b=0, n=60):
    return (
        spark.range(n)
        .select(
            (F.col("id") + b * 10_000).alias("k"),
            (F.col("id") * 1.0 + b).alias("val"),
            F.concat(F.lit("s"), F.col("id") % len(segs)).alias("seg"),
            F.lit(b + 1).alias("v"),
        )
        .filter(F.col("seg").isin([f"s{i}" for i in segs]))
    )


def test_delete_partition_drops_rows_keeps_history(spark, tmp_path):
    t = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    t.insert(_batch(spark, [0, 1, 2]))
    before = t.latest_instant()
    n_before = t.read().count()
    inst = t.delete_partition({"seg": "s1"})
    assert inst > before

    # current snapshot excludes the partition; the commit moved no data
    segs = {r["seg"] for r in t.read().select("seg").distinct().collect()}
    assert segs == {"s0", "s2"}
    target = next(i for i in t.timeline.completed_data_instants() if i.instant == inst)
    assert target.files_added == [] and target.files_removed

    # time travel before the drop still sees it
    segs_tt = {
        r["seg"]
        for r in t.read(as_of=before).select("seg").distinct().collect()
    }
    assert segs_tt == {"s0", "s1", "s2"}

    # CDC across the drop window emits D row kinds for exactly the s1 rows
    cdc = Table(spark, t.base).table_changes_cdc(before)
    ops = {r["op"] for r in cdc.select("op").distinct().collect()}
    assert ops == {"D"}
    assert cdc.count() == n_before - Table(spark, t.base).read().count()

    # rollback resurrects the partition
    t2 = Table(spark, t.base)
    t2.rollback(inst)
    segs_rb = {r["seg"] for r in t2.read().select("seg").distinct().collect()}
    assert segs_rb == {"s0", "s1", "s2"}


def test_delete_partition_validation_and_index_invalidation(spark, tmp_path):
    flat = Table.create(
        spark,
        str(tmp_path / "flat"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v"),
    )
    flat.insert(_batch(spark, [0]))
    with pytest.raises(ValueError, match="partitioned"):
        flat.delete_partition({"seg": "s0"})

    t = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    t.insert(_batch(spark, [0, 1]))
    with pytest.raises(ValueError, match="missing columns"):
        t.delete_partition({"wrong": "x"})
    with pytest.raises(ValueError, match="no live files"):
        t.delete_partition({"seg": "nope"})

    # a replace commit's rollback story applies: the record index is
    # invalidated when the drop is rolled back (resurrected files), but the
    # DROP itself only removes rows — the index stays valid and exact
    t.create_record_index()
    t.delete_partition({"seg": "s1"})
    assert (t._index_meta("record_index") or {}).get("valid") is True
    live = sorted(t.timeline.live_files()[0])
    cand = t._locate_keys(
        live,
        spark.range(2).select(F.col("id").cast("string").alias("_hoodie_record_key")),
    )[1]
    assert t.last_key_prune.get("record_index") is True
    for r in cand:
        assert "seg=s1" not in r
    t2 = Table(spark, t.base)
    t2.rollback()
    assert (t2._index_meta("record_index") or {}).get("valid") is False


def test_partition_ttl_service(spark, tmp_path):
    from datetime import datetime, timezone

    t = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    t.insert(_batch(spark, [0, 1]))
    time.sleep(3.0)
    # refresh s1 only — s0's newest write stays old
    t.upsert(
        spark.range(5).select(
            (F.col("id") * 2 + 1).alias("k"),
            F.lit(9.0).alias("val"),
            F.lit("s1").alias("seg"),
            F.lit(9).alias("v"),
        )
    )

    # instants are minted at write START, so "fresh" is already seconds old
    # by now — pick the TTL as the midpoint of the two partitions' true ages
    # to make the split timing-proof
    def _age(inst: str) -> float:
        t0 = datetime.strptime(inst[:17], "%Y%m%d%H%M%S%f").replace(
            tzinfo=timezone.utc
        )
        return (datetime.now(timezone.utc) - t0).total_seconds()

    newest: dict[str, str] = {}
    for r, (inst, _a) in t.timeline.live_files()[0].items():
        p = t._partition_path_of(r)
        newest[p] = max(newest.get(p, ""), inst)
    ttl = (_age(newest["seg=s0"]) + _age(newest["seg=s1"])) / 2

    rep = Table(spark, t.base).run_services(partition_ttl_seconds=ttl)
    assert rep["partitions_expired"] == ["seg=s0"]
    segs = {r["seg"] for r in Table(spark, t.base).read().select("seg").distinct().collect()}
    assert segs == {"s1"}

    # a second pass with a long TTL expires nothing
    rep2 = Table(spark, t.base).run_services(partition_ttl_seconds=3600.0)
    assert rep2["partitions_expired"] == []


def test_mor_drop_compacts_move_chains_first(spark, tmp_path):
    """MOR + global index: a key whose latest version is a LOG row in the
    dropped partition may hold an older base version elsewhere — a naive
    file drop would resurrect it. delete_partition compacts pending logs
    first, so the drop removes the key outright (exact row semantics)."""
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(**{**CFG, "table_type": "mor"}),
    )
    t.insert(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.lit(1.0).alias("val"),
            F.lit("s0").alias("seg"),
            F.lit(1).alias("v"),
        )
    )
    # move k=0 to partition s1 via a log append (base version stays in s0)
    t.upsert(
        spark.range(1).select(
            F.col("id").alias("k"),
            F.lit(9.0).alias("val"),
            F.lit("s1").alias("seg"),
            F.lit(2).alias("v"),
        )
    )
    t2 = Table(spark, t.base)
    t2.delete_partition({"seg": "s1"})
    rows = {r["k"]: (r["seg"], r["val"]) for r in Table(spark, t.base).read().collect()}
    assert 0 not in rows, "dropped key resurrected from its old partition"
    assert set(rows) == set(range(1, 10))
    assert all(seg == "s0" and val == 1.0 for seg, val in rows.values())


def test_mor_drop_refuses_a_log_landing_during_its_compaction(spark, tmp_path):
    """Compaction publishes beside log appends, so a log can land while
    delete_partition's compaction runs; the drop must then refuse (that log
    may hold a move chain again) rather than cut it."""
    from hudi_examples_spark.table.core import ConcurrentWriteConflict
    from tests.test_concurrency import _interleave

    t = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(**{**CFG, "table_type": "mor"}),
    )

    def one(k, val, seg, v):
        return spark.createDataFrame([(k, val, seg, v)], SCHEMA)

    t.insert(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.lit(1.0).alias("val"),
            F.lit("s0").alias("seg"),
            F.lit(1).alias("v"),
        )
    )
    t.upsert(one(0, 9.0, "s1", 2))  # k=0 moves to s1 through a log
    writer = Table(spark, t.base)
    # k=1 moves to s1 while the drop's compaction runs
    dropper = _interleave(Table(spark, t.base), lambda: writer.upsert(one(1, 7.0, "s1", 2)))
    with pytest.raises(ConcurrentWriteConflict, match="live log"):
        dropper.delete_partition({"seg": "s1"})
    rows = {r["k"]: (r["seg"], r["val"]) for r in Table(spark, t.base).read().collect()}
    assert rows[0] == ("s1", 9.0) and rows[1] == ("s1", 7.0) and len(rows) == 10

    # a retry compacts the new log too, then drops both moved keys outright
    Table(spark, t.base).delete_partition({"seg": "s1"})
    rows = {r["k"]: (r["seg"], r["val"]) for r in Table(spark, t.base).read().collect()}
    assert set(rows) == set(range(2, 10))
    assert all(seg == "s0" and val == 1.0 for seg, val in rows.values())


def test_sql_drop_partition(spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    sess = Engine(spark, str(tmp_path / "wh"))
    sess.sql(
        "CREATE TABLE pt (k BIGINT, val DOUBLE, seg STRING, v INT) USING hudi "
        "PARTITIONED BY (seg) "
        "TBLPROPERTIES (primaryKey = 'k', preCombineField = 'v')"
    )
    sess.sql(
        "INSERT INTO pt VALUES (1, 1.0, 'a', 1), (2, 2.0, 'b', 1), (3, 3.0, 'a', 1)"
    )
    before = {r["partition"] for r in sess.sql("SHOW PARTITIONS pt").collect()}
    assert before == {"seg=a", "seg=b"}
    sess.sql("ALTER TABLE pt DROP PARTITION (seg='a')")
    tbl = sess.table("pt")
    rows = sorted((r["k"], r["seg"]) for r in tbl.read().collect())
    assert rows == [(2, "b")]
    after = {r["partition"] for r in sess.sql("SHOW PARTITIONS pt").collect()}
    assert after == {"seg=b"}


def test_delete_partition_rejects_unknown_spec_keys(spark, tmp_path):
    t = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    t.insert(_batch(spark, [0, 1]))
    # a typo'd extra key must be an error, not silently ignored (the path
    # construction only reads declared columns, so 'sgg' would have dropped
    # whatever the correctly-spelled keys named)
    with pytest.raises(ValueError, match="unknown columns"):
        t.delete_partition({"seg": "s0", "sgg": "s1"})
    assert {r["seg"] for r in t.read().select("seg").distinct().collect()} == {"s0", "s1"}


def test_sql_drop_partition_value_with_comma_and_quote(spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE pl (k BIGINT, val DOUBLE, seg STRING, v INT) USING hudi "
        "PARTITIONED BY (seg) "
        "TBLPROPERTIES (primaryKey = 'k', preCombineField = 'v')"
    )
    eng.sql("INSERT INTO pl VALUES (1, 1.0, 'a,b', 1), (2, 2.0, 'plain', 1)")
    # the partition VALUE contains a comma: a naive comma-split would parse
    # this as two malformed spec entries
    eng.sql("ALTER TABLE pl DROP PARTITION (seg='a,b')")
    segs = {r["seg"] for r in eng.sql("SELECT DISTINCT seg FROM pl").collect()}
    assert segs == {"plain"}
