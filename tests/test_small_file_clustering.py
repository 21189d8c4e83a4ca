"""Small-file clustering: bin-pack tiny base files into ~target-size files —
metadata-only planning, pure-copy rewrite, content identical, per-partition
containment, index superset maintained."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "k BIGINT, val DOUBLE, seg STRING, v INT"


def _batch(spark, b, n=200):
    return spark.range(b * 10_000, b * 10_000 + n).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("val"),
        F.concat(F.lit("s"), F.col("id") % 2).alias("seg"),
        F.lit(1).alias("v"),
    )


def _mk(spark, tmp_path, n_commits=6, **cfg):
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"], **cfg),
    )
    for b in range(n_commits):  # bulk_insert appends: small files accumulate
        t.bulk_insert(_batch(spark, b))
    return t


def test_small_files_consolidate_content_preserved(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before_files, _ = t.timeline.live_files()
    before = sorted(map(tuple, t.read().collect()))
    inst = t.cluster_small_files(target_bytes=1024 * 1024)
    assert inst is not None
    t2 = Table(spark, t.base)
    after_files, _ = t2.timeline.live_files()
    assert len(after_files) < len(before_files)
    # every partition's bins stayed inside the partition
    for r in after_files:
        assert t2._partition_path_of(r) in ("seg=s0", "seg=s1")
    assert sorted(map(tuple, t2.read().collect())) == before
    # pure copy: the new files carry the ORIGINAL commit instants
    rewritten = [r for r in after_files if r not in before_files]
    assert rewritten
    snap = t2._read_files(rewritten, with_deleted=False)
    carried = {r[0] for r in snap.select("_hoodie_commit_time").distinct().collect()}
    assert inst not in carried and len(carried) > 1

    # idempotent: a second pass with the same knobs has nothing to do, or
    # consolidates remainder bins but converges
    again = Table(spark, t.base).cluster_small_files(target_bytes=1024 * 1024)
    if again is not None:
        final = Table(spark, t.base)
        assert sorted(map(tuple, final.read().collect())) == before
        assert Table(spark, t.base).cluster_small_files(target_bytes=1024 * 1024) is None


def test_big_files_left_alone_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path, n_commits=4)
    files, _ = t.timeline.live_files()
    sizes = {r: os.path.getsize(os.path.join(t.base, r)) for r in files}
    # a tiny small_limit excludes everything → no-op
    assert t.cluster_small_files(target_bytes=1024, small_limit=1) is None
    pre_instant = t.latest_instant()
    inst = t.cluster_small_files(target_bytes=1024 * 1024)
    assert inst is not None
    t2 = Table(spark, t.base)
    # time travel to before the clustering sees the original small files
    old = t2.read(as_of=pre_instant)
    assert old.count() == 4 * 200
    # untouched = files above the small limit survive as-is
    after, _ = t2.timeline.live_files()
    big = [r for r, s in sizes.items() if s >= (1024 * 1024) // 2]
    for r in big:
        assert r in after


def test_mor_with_logs_requires_compaction_first(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "m"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"], table_type="mor"),
    )
    t.bulk_insert(_batch(spark, 0))
    t.bulk_insert(_batch(spark, 1))
    Table(spark, t.base).upsert(_batch(spark, 0).withColumn("v", F.lit(2)))  # log
    assert Table(spark, t.base).cluster_small_files() is None
    c = Table(spark, t.base)
    c.compact()
    inst = Table(spark, t.base).cluster_small_files(target_bytes=1024 * 1024)
    assert inst is not None
    rows = {r["k"]: r["v"] for r in Table(spark, t.base).read().collect()}
    assert all(v == 2 for k, v in rows.items() if k < 10_000)


def test_sql_call_smallfiles(spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE sfc (k BIGINT, val DOUBLE, seg STRING, v INT) USING hudi "
        "PARTITIONED BY (seg) TBLPROPERTIES (primaryKey = 'k', preCombineField = 'v')"
    )
    t = eng.table("sfc")
    for b in range(4):
        t.bulk_insert(_batch(spark, b))
    n_before = len(Table(spark, t.base).timeline.live_files()[0])
    eng.sql("CALL run_clustering_smallfiles('sfc', 1048576)")
    t2 = Table(spark, t.base)
    assert len(t2.timeline.live_files()[0]) < n_before
    assert t2.read().count() == 4 * 200


def test_run_services_small_file_trigger(spark, tmp_path):
    t = _mk(spark, tmp_path, n_commits=5)
    n_before = len(t.timeline.live_files()[0])
    # trigger disabled by default: pass stays hands-off
    rep0 = Table(spark, t.base).run_services()
    assert "small_files_clustered" not in rep0
    rep = Table(spark, t.base).run_services(
        small_file_trigger=3, small_file_target_bytes=1024 * 1024
    )
    assert rep.get("small_files_clustered") is not None
    t2 = Table(spark, t.base)
    assert len(t2.timeline.live_files()[0]) < n_before
    assert t2.read().count() == 5 * 200
