"""Table services beside a live writer: inline compaction and clustering run
the same plan executor as their scheduled twins, so a commit that lands in a
partition while the service rewrites it never costs the service its publish.

Each test commits through a second ``Table`` handle from inside the service's
``_write_files`` (after the rewrite is written, before it publishes), once for
the inline call and once for schedule + ``run_*``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig
from tests.test_concurrency import _interleave

SCHEMA = "k BIGINT, val DOUBLE, seg STRING, v INT"


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.parametrize("mode", ["inline", "scheduled"])
def test_compaction_publishes_beside_upsert_into_its_partition(spark, tmp_path, mode):
    t = Table.create(
        spark,
        str(tmp_path / "mor"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"], table_type="mor"),
    )
    model = {k: (float(k), f"s{k % 2}") for k in range(20)}
    t.insert(_rows(spark, [(k, val, seg, 1) for k, (val, seg) in model.items()]))
    updates = [(k, 100.0 + k, "s0", 2) for k in (0, 2, 4)]
    t.upsert(_rows(spark, updates))
    model.update({k: (val, seg) for k, val, seg, _v in updates})
    plan = t.schedule_compaction() if mode == "scheduled" else None

    # the writer updates a key being compacted and adds one, both in s0
    late = [(2, 500.0, "s0", 3), (40, 40.0, "s0", 3)]
    writer = Table(spark, t.base)
    _interleave(t, lambda: writer.upsert(_rows(spark, late)))
    out = t.compact() if mode == "inline" else t.run_compaction(plan)
    model.update({k: (val, seg) for k, val, seg, _v in late})

    assert out is not None
    assert t.pending_compactions() == []
    got = {r["k"]: (r["val"], r["seg"]) for r in Table(spark, t.base).read().collect()}
    assert got == model
    # the writer's log stays live over the compacted base
    files, _ = t.timeline.live_files()
    assert sum(1 for _i, a in files.values() if a == "deltacommit") >= 1


@pytest.mark.parametrize("mode", ["inline", "scheduled"])
def test_clustering_publishes_beside_bulk_insert_into_its_partition(spark, tmp_path, mode):
    t = Table.create(
        spark,
        str(tmp_path / "cow"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"], stats_cols=["k"]),
    )
    for lo in (0, 30):  # two commits: several files per partition
        t.insert(
            spark.range(lo, lo + 30).select(
                F.col("id").alias("k"),
                (F.col("id") * 1.0).alias("val"),
                F.concat(F.lit("s"), F.col("id") % 2).alias("seg"),
                F.lit(1).alias("v"),
            )
        )
    plan = t.schedule_clustering(["k"], n_files=2) if mode == "scheduled" else None

    writer = Table(spark, t.base)
    new = [(k, float(k), "s0", 1) for k in (100, 102, 104)]
    _interleave(t, lambda: writer.bulk_insert(_rows(spark, new)))
    out = t.cluster_sort(["k"], n_files=2) if mode == "inline" else t.run_clustering(plan)

    assert out is not None
    assert t.pending_clusterings() == []
    got = sorted((r["k"], r["val"], r["seg"]) for r in Table(spark, t.base).read().collect())
    want = sorted([(k, float(k), f"s{k % 2}") for k in range(60)] + [r[:3] for r in new])
    assert got == want
