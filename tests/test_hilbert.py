"""Hilbert-curve clustering: the third Hudi layout strategy.

Certifies (a) the curve itself — consecutive Hilbert distances must be
orthogonal grid neighbours, the defining continuity property, checked
exhaustively over whole grids; (b) the layout — ``cluster_hilbert`` must make
scans on EVERY listed dimension prune files, like z-order; (c) the async
schedule/execute split and the SQL face carry the strategy end to end.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.sources.readers import load_sf_table
from hudi_examples_spark.table import Table, TableConfig
from hudi_examples_spark.table.hilbert import hilbert_distance_np, hilbert_udf
from tests.conftest import SF_SMALL


def _grid(n_dims: int, bits: int) -> np.ndarray:
    side = 1 << bits
    coords = np.indices([side] * n_dims).reshape(n_dims, -1)
    return coords.astype(np.int64)


@pytest.mark.parametrize("n_dims,bits", [(2, 2), (2, 4), (3, 2), (3, 3), (4, 2)])
def test_hilbert_is_a_continuous_space_filling_curve(n_dims, bits):
    """Exhaustive over the full grid: distances are a permutation of
    0..2**(n*b)-1 (space-filling bijection) and consecutive positions differ
    by exactly 1 in exactly one coordinate (continuity) — together these
    properties admit only a Hilbert-family curve."""
    coords = _grid(n_dims, bits)
    d = hilbert_distance_np(coords, bits)
    n_cells = 1 << (n_dims * bits)
    assert sorted(d.tolist()) == list(range(n_cells))
    order = np.argsort(d)
    walk = coords[:, order]
    steps = np.abs(np.diff(walk, axis=1))
    assert (steps.sum(axis=0) == 1).all(), "curve must move one orthogonal step at a time"


def test_hilbert_1d_is_identity():
    x = np.arange(16, dtype=np.int64).reshape(1, -1)
    assert (hilbert_distance_np(x, 4) == np.arange(16)).all()


def test_hilbert_udf_matches_numpy(spark):
    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("bigint").alias("y")
    )
    got = {(r["x"], r["y"]): r["d"] for r in df.select("x", "y", hilbert_udf(2, 4)("x", "y").alias("d")).collect()}
    coords = _grid(2, 4)
    want = hilbert_distance_np(coords, 4)
    for (x, y), w in zip(coords.T.tolist(), want.tolist()):
        assert got[(x, y)] == w


def test_hilbert_udf_overflow_guard():
    with pytest.raises(ValueError, match="overflow"):
        hilbert_udf(8, 8)


def test_cluster_hilbert_prunes_on_both_dimensions(spark, tmp_path):
    tbl = Table.create(
        spark,
        str(tmp_path / "h"),
        "l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE",
        TableConfig(stats_cols=["l_orderkey", "l_suppkey"]),
    )
    df = load_sf_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    tbl.insert(df.repartition(16))
    out = tbl.cluster_hilbert(["l_orderkey", "l_suppkey"], n_files=16)
    assert out is not None
    # already in layout: incremental pass is a no-op
    assert tbl.cluster_hilbert(["l_orderkey", "l_suppkey"], n_files=16) is None

    def rows(d):
        return sorted(map(tuple, d.collect()))

    want = tbl.read().filter("l_orderkey >= 100 AND l_orderkey <= 200")
    got = tbl.scan([("l_orderkey", ">=", 100), ("l_orderkey", "<=", 200)])
    assert rows(got) == rows(want)
    assert tbl.last_scan["pruned"] > 0, "hilbert must prune on the first dimension"

    want2 = tbl.read().filter("l_suppkey >= 1 AND l_suppkey <= 3")
    got2 = tbl.scan([("l_suppkey", ">=", 1), ("l_suppkey", "<=", 3)])
    assert rows(got2) == rows(want2)
    assert tbl.last_scan["pruned"] > 0, "hilbert must prune on the second dimension too"


def test_async_hilbert_schedule_execute(spark, tmp_path):
    tbl = Table.create(
        spark,
        str(tmp_path / "ah"),
        "k BIGINT, x BIGINT, y BIGINT",
        TableConfig(stats_cols=["x", "y"]),
    )
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("x"),
        (F.col("id") % 89).alias("y"),
    )
    tbl.insert(df.repartition(8))
    before = sorted(map(tuple, tbl.read().collect()))
    plan = tbl.schedule_clustering(["x", "y"], n_files=8, strategy="hilbert")
    assert plan is not None
    pending = tbl.pending_clusterings()
    assert pending and pending[0].meta["layout"]["operation"] == "cluster_hilbert"
    assert tbl.run_clustering() is not None
    assert tbl.pending_clusterings() == []
    assert sorted(map(tuple, tbl.read().collect())) == before
    tbl.scan([("y", "=", 5)])
    assert tbl.last_scan["pruned"] > 0


def test_sql_run_clustering_hilbert(spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.sql("CREATE TABLE ht (k BIGINT, x BIGINT, y BIGINT) USING hudi")
    engine.sql("INSERT INTO ht SELECT id, id % 31, id % 29 FROM range(1000)")
    before = sorted(map(tuple, engine.sql("SELECT * FROM ht").collect()))
    engine.sql("CALL run_clustering_hilbert('ht', 'x', 'y')")
    assert sorted(map(tuple, engine.sql("SELECT * FROM ht").collect())) == before
    commits = engine.sql("CALL show_commits('ht')").collect()
    assert any(c["operation"] == "cluster_hilbert" for c in commits)
