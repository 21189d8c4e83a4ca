"""Scale-design guarantees of the table layer's maintenance paths.

These tests pin the 100-TB shapes, not just answers: partition-scoped
compaction rewrites only file groups with pending logs, keyed writes prune
their key-location scan with the record-key range index, the MOR snapshot
merge broadcasts log keys instead of shuffling the table, the CDC read opens
O(changes) files, and table services publish under OCC with crash-safe locks.

Parity: per-file-group compaction (``flink/.README.md:57-69``,
``DeltaStreamerExample.scala:48-55``), bloom-index range pruning, Hudi OCC
lock-provider expiry.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig
from hudi_examples_spark.table.core import ConcurrentWriteConflict
from hudi_examples_spark.table.timeline import Instant, new_instant

SCHEMA = "k STRING, p INT, v DOUBLE, ts LONG"


def rows_df(spark, part, ids, ts=1, v=1.0):
    rows = [(f"{part}-{i:04d}", part, v, ts) for i in ids]
    return spark.createDataFrame(rows, SCHEMA)


def load_df(spark, parts, ids, ts=1, v=1.0):
    rows = [(f"{part}-{i:04d}", part, v, ts) for part in parts for i in ids]
    return spark.createDataFrame(rows, SCHEMA)


def make(spark, tmp_path, **cfg):
    defaults = dict(record_key=["k"], precombine="ts", partition_by=["p"], table_type="mor")
    defaults.update(cfg)
    return Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**defaults))


def partition_dirs(rels):
    return {os.path.dirname(r) for r in rels}


def test_partial_compaction_rewrites_only_logged_file_groups(spark, tmp_path):
    tbl = make(spark, tmp_path)
    # 4 partitions with per-partition disjoint key ranges, one base commit
    tbl.insert(load_df(spark, range(4), range(50)))
    # touch only partition 1
    tbl.upsert(rows_df(spark, 1, range(5), ts=2, v=9.0))
    before = tbl.read()
    inst = tbl.compact()
    assert inst is not None
    rc = next(i for i in tbl.timeline.completed_data_instants() if i.instant == inst)
    # only p=1's file group was rewritten; the other partitions' base files
    # were carried by manifest reference
    assert partition_dirs(rc.files_removed) == {"p=1"}
    assert partition_dirs(rc.files_added) == {"p=1"}
    # view preserved, and no logs remain
    from tests.test_table_cow import assert_same

    assert_same(tbl.read(), before)
    files, _ = tbl.timeline.live_files()
    assert all(a != "deltacommit" for _, (_, a) in files.items())


def test_partial_compaction_follows_partition_moves(spark, tmp_path):
    """A partition-changing upsert's log supersedes a base row in ANOTHER
    partition: compaction must pull that base file group into the merge or the
    stale row would resurface once the log is gone."""
    tbl = make(spark, tmp_path)
    tbl.insert(load_df(spark, range(3), range(20)))
    # move key 2-0003 from p=2 into p=0 (same record key, new partition value)
    moved = spark.createDataFrame([("2-0003", 0, 99.0, 5)], SCHEMA)
    tbl.upsert(moved)
    assert tbl.read().filter("k='2-0003'").count() == 1
    tbl.compact()
    got = tbl.read().filter("k='2-0003'").collect()
    assert len(got) == 1 and got[0]["p"] == 0 and got[0]["v"] == 99.0


def test_upsert_location_scan_prunes_by_key_range(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow")
    for part in range(8):  # COW: one base commit per partition
        tbl.insert(rows_df(spark, part, range(50)))
    total_live = len(tbl.timeline.live_files()[0])
    tbl.upsert(rows_df(spark, 3, range(5), ts=2, v=7.0))
    # the key-location scan considered only files whose key range overlaps the
    # batch — O(touched partition), not O(table)
    assert tbl.last_key_prune["total"] == total_live
    assert tbl.last_key_prune["candidates"] < total_live / 4
    # and the commit rewrote only p=3
    last = tbl.timeline.completed_data_instants()[-1]
    assert partition_dirs(last.files_removed) == {"p=3"}


def test_partition_scoped_index_skips_location_scan(spark, tmp_path):
    """Non-global index: planning must stay METADATA-only and inside the
    batch's own partitions. Round 4's key-first planner still range-prunes
    (that's sidecar metadata, not a file read — exactly Hudi SIMPLE's
    partition-local key join), but its scope must exclude other partitions."""
    tbl = make(spark, tmp_path, table_type="cow", index_type="partition")
    for part in range(3):  # two BULK loads per partition -> >1 file group each,
        # so the planner actually plans (a 1-file partition skips the prune;
        # plain insert would merge through precombine back to one file)
        tbl.bulk_insert(rows_df(spark, part, range(10)))
        tbl.bulk_insert(rows_df(spark, part, range(10, 20)))
    files, _ = tbl.timeline.live_files()
    n_all = len(files)
    n_p1 = sum("p=1" in r for r in files)
    tbl.last_key_prune = None
    tbl.upsert(rows_df(spark, 1, range(2), ts=2, v=5.0))
    # the prune's universe was partition p=1's files only, never the table
    assert tbl.last_key_prune["total"] <= n_p1 < n_all
    assert tbl.read().filter("p=1 and v=5.0").count() == 2
    # documented non-global contract: a partition-changing upsert does NOT
    # move the record — the old row stays (Hudi SIMPLE index behavior)
    tbl.upsert(spark.createDataFrame([("0-0001", 2, 8.0, 9)], SCHEMA))
    assert tbl.read().filter("k='0-0001'").count() == 2


def test_mor_snapshot_merge_broadcasts_log_keys(spark, tmp_path):
    tbl = make(spark, tmp_path)
    tbl.insert(load_df(spark, range(2), range(100)))
    tbl.upsert(rows_df(spark, 0, range(3), ts=2, v=4.0))
    from hudi_examples_spark.plans.inspect import explain_str

    plan = explain_str(tbl.read())
    # base rows reach the output through broadcast joins, not a table-wide
    # key shuffle: both the anti (untouched) and semi (touched) sides
    assert plan.count("BroadcastHashJoin") >= 2
    # and the merged view is still exact
    from tests.test_table_cow import assert_same

    expect = tbl._merge_mor(
        tbl._read_files(
            sorted(r for r, (_, a) in tbl.timeline.live_files()[0].items() if a != "deltacommit"),
            with_deleted=True,
        ).unionByName(
            tbl._read_files(
                sorted(r for r, (_, a) in tbl.timeline.live_files()[0].items() if a == "deltacommit"),
                with_deleted=True,
            )
        )
    ).drop("_hoodie_is_deleted")
    assert_same(tbl.read(with_meta=True), expect)


def test_cdc_read_opens_o_changes_files(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow")
    tbl.CDC_PRUNE_MIN_FILES = 0  # force the big-table path on a small fixture
    tbl.CDC_PRUNE_MIN_BYTES = 0
    for part in range(6):
        tbl.insert(rows_df(spark, part, range(50)))
    t0 = tbl.latest_instant()
    tbl.upsert(rows_df(spark, 2, range(4), ts=3, v=6.0))
    tbl.delete(spark.createDataFrame([("2-0010",)], "k STRING"))
    cdc = tbl.table_changes_cdc(start=t0)
    got = {(r["key"], r["op"]) for r in cdc.collect()}
    assert got == {(f"2-{i:04d}", "U") for i in range(4)} | {("2-0010", "D")}
    # the last pruning pass (after-side) considered all live files but kept
    # only the touched partition's — O(changes) IO
    assert tbl.last_key_prune["candidates"] < tbl.last_key_prune["total"] / 2


def test_stale_lock_is_broken_and_healed(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow")
    tbl.insert(rows_df(spark, 0, range(5)))
    lock = os.path.join(tbl.base, "_timeline", "_lock")
    with open(lock, "w") as f:
        json.dump({"pid": 999999, "ts": time.time() - 3600}, f)
    old = time.time() - 3600
    os.utime(lock, (old, old))
    # a publish breaks the expired lock instead of timing out
    tbl.upsert(rows_df(spark, 0, range(2), ts=2, v=3.0))
    assert not os.path.exists(lock)
    assert tbl.read().filter("v=3.0").count() == 2
    # heal() also clears stale locks
    with open(lock, "w") as f:
        f.write("{}")
    os.utime(lock, (old, old))
    assert os.path.join("_timeline", "_lock") in tbl.heal()
    assert not os.path.exists(lock)


def test_same_instant_id_is_a_conflict(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow")
    tbl.insert(rows_df(spark, 0, range(5)))
    published = tbl.timeline.completed_data_instants()[-1]
    clash = Instant(published.instant, "commit", ["x.parquet"], [], {})
    with pytest.raises(ConcurrentWriteConflict, match="already published"):
        tbl._publish_occ(clash, since="", partitions=set())


def test_competing_compactions_conflict(spark, tmp_path):
    tbl = make(spark, tmp_path)
    tbl.insert(rows_df(spark, 0, range(10)))
    tbl.upsert(rows_df(spark, 0, range(2), ts=2, v=2.0))
    files, latest_before = tbl.timeline.live_files()
    first = tbl.compact()
    assert first is not None
    # a second compactor that planned against the pre-compaction snapshot must
    # not double-apply the same logs
    stale = Instant(new_instant(), "replacecommit", ["dup.parquet"], sorted(files), {})
    with pytest.raises(ConcurrentWriteConflict):
        tbl._publish_occ(stale, since=latest_before, partitions={""})


def test_point_read_plans_without_a_spark_job(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow", partition_by=[], n_buckets=8)
    tbl.insert(load_df(spark, range(2), range(50)))
    sc = spark.sparkContext
    sc.setJobGroup("point-read-planning", "must stay empty")
    try:
        df = tbl.read_point(k="1-0007")  # planning only — no action yet
        assert sc.statusTracker().getJobIdsForGroup("point-read-planning") == []
    finally:
        sc.setJobGroup(None, None)
    got = df.collect()
    assert len(got) == 1 and got[0]["v"] == 1.0
    # and the pruned read touched only one bucket's files
    files, _ = tbl.timeline.live_files()
    n_buckets_live = len({os.path.dirname(r) for r in files})
    assert n_buckets_live > 1  # table actually has multiple bucket dirs


def test_writer_rolls_files_at_max_records(spark, tmp_path):
    """One task per hive partition must still produce bounded-size files
    (the hoodie.parquet.max.file.size analogue)."""
    import pyarrow.parquet as pq

    tbl = make(spark, tmp_path, table_type="cow", max_records_per_file=30)
    tbl.insert(rows_df(spark, 0, range(100)))
    files, _ = tbl.timeline.live_files()
    assert len(files) >= 4  # 100 rows / 30-row cap
    for r in files:
        assert pq.ParquetFile(os.path.join(tbl.base, r)).metadata.num_rows <= 30
    assert tbl.count() == 100


def test_distributed_prefix_sum_equals_global_window(spark):
    """The two-level prefix sum must be bit-identical to the naive
    single-partition global window, while spreading the data window across
    bucket partitions (only the 256-row offsets table is single-partition)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hudi_examples_spark.operators.scale_ops import distributed_prefix_sum

    df = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("h"),
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(100)) + 1).alias("val"),
    )
    got = {
        r["doc_id"]: r["__prefix"]
        for r in distributed_prefix_sum(df, ["h", "doc_id"], "val").collect()
    }
    w = Window.orderBy("h", "doc_id")
    want = {
        r["doc_id"]: r["p"]
        for r in df.withColumn(
            "p", F.coalesce(F.sum("val").over(w) - F.col("val"), F.lit(0))
        ).collect()
    }
    assert got == want
