"""Table-layer DML as differential queries (SURVEY §2.8 under the driver's oracle).

Each query builds a real engine table under /tmp from the sf tables, runs a
deterministic DML lifecycle (insert → upsert/merge/delete/...), and returns the final
snapshot; the DuckDB oracle expresses the same final state in pure SQL. This puts
upsert / merge / delete / time-travel / incremental / MOR-merge correctness under the
hash-matching gate — the engine's own differential "golden mirror" testing
(``TestAutomationUtils.scala:57-83``) with DuckDB as the mirror.

Work tables are rebuilt from scratch on every call (fresh dir per (query, sf)) so
results are deterministic and the returned DataFrame's files stay readable after the
callable returns.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_examples_spark.operators.spec import QuerySpec
from hudi_examples_spark.sources.readers import load_sf_table as t
from hudi_examples_spark.table import MergeClause, Table, TableConfig

CUST_SCHEMA = "c_custkey BIGINT, c_name STRING, acctbal DOUBLE, seg STRING, v INT"


def _workdir(name: str, sf_dir: str) -> str:
    root = os.path.join(tempfile.gettempdir(), "hudi_examples_spark_dml")
    p = os.path.join(root, f"{name}_{re.sub(r'[^A-Za-z0-9]', '_', sf_dir)}")
    if os.path.exists(p):
        shutil.rmtree(p)
    os.makedirs(p)
    return p


def _cust_df(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).alias("v"),
    )


def _upsert_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic change batch: bump acctbal for keys %7==0; new keys for %13==0."""
    c = _cust_df(spark, sf)
    updates = c.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "acctbal", F.col("acctbal") + 100.0
    )
    inserts = c.filter(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    return updates.unionByName(inserts).withColumn("v", F.lit(2))


def _final_snapshot(tbl: Table) -> DataFrame:
    return tbl.read().select(
        "c_custkey", "c_name", F.round("acctbal", 2).alias("acctbal"), "seg", "v"
    )


#: Final state after insert + _upsert_batch, in DuckDB SQL.
UPSERT_FINAL_ORACLE = """
SELECT c_custkey, c_name,
       round(c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0 END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS v
FROM customer
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2
FROM customer WHERE c_custkey % 13 = 0
"""


def _lifecycle_table(spark: SparkSession, sf: str, name: str, table_type: str) -> Table:
    base = os.path.join(_workdir(name, sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        CUST_SCHEMA,
        TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["seg"], table_type=table_type),
    )
    tbl.insert(_cust_df(spark, sf))
    return tbl


def tbl_upsert_cow(spark: SparkSession, sf: str) -> DataFrame:
    """M7: COW upsert final state (update + insert paths through the key merge)."""
    tbl = _lifecycle_table(spark, sf, "tbl_upsert_cow", "cow")
    tbl.upsert(_upsert_batch(spark, sf))
    return _final_snapshot(tbl)


def tbl_upsert_mor(spark: SparkSession, sf: str) -> DataFrame:
    """M7+MOR: identical lifecycle, log-file write path + merge-on-read view.

    Same oracle as the COW variant — asserting the two table types present an
    identical logical view (the reference's cow/mor config-matrix invariant,
    ``spark_sql_testing.sh:78-108``).
    """
    tbl = _lifecycle_table(spark, sf, "tbl_upsert_mor", "mor")
    tbl.upsert(_upsert_batch(spark, sf))
    return _final_snapshot(tbl)


def tbl_upsert_mor_compacted(spark: SparkSession, sf: str) -> DataFrame:
    """M14: compaction must preserve the merged view exactly (same oracle again)."""
    tbl = _lifecycle_table(spark, sf, "tbl_upsert_mor_compacted", "mor")
    tbl.upsert(_upsert_batch(spark, sf))
    tbl.compact()
    return _final_snapshot(tbl)


def tbl_delete_where(spark: SparkSession, sf: str) -> DataFrame:
    """M4: DELETE FROM t WHERE acctbal < 0 — final state."""
    tbl = _lifecycle_table(spark, sf, "tbl_delete_where", "cow")
    tbl.delete_where("acctbal < 0")
    return _final_snapshot(tbl)


TBL_DELETE_ORACLE = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, c_mktsegment AS seg, 1 AS v
FROM customer WHERE NOT (c_acctbal < 0)
"""


def tbl_merge_mixed(spark: SparkSession, sf: str) -> DataFrame:
    """M5/J2/J3: MERGE with partial update (matched, %3==0 source keys) then a
    matched-delete pass (%5==0) — Job.py:125-133 composed."""
    tbl = _lifecycle_table(spark, sf, "tbl_merge_mixed", "cow")
    src = (
        _cust_df(spark, sf)
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", (F.col("acctbal") * 2).alias("new_bal"))
    )
    tbl.merge(
        src,
        on={"c_custkey": "c_custkey"},
        clauses=[MergeClause("matched", "update", {"acctbal": "source.new_bal", "v": "2"})],
    )
    del_src = _cust_df(spark, sf).filter(F.col("c_custkey") % 5 == 0).select("c_custkey")
    tbl.merge(del_src, on={"c_custkey": "c_custkey"}, clauses=[MergeClause("matched", "delete")])
    return _final_snapshot(tbl)


TBL_MERGE_ORACLE = """
SELECT c_custkey, c_name,
       round(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 2 ELSE c_acctbal END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS v
FROM customer
WHERE c_custkey % 5 <> 0
"""


def tbl_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """M10: snapshot as of the first commit must equal the original insert."""
    tbl = _lifecycle_table(spark, sf, "tbl_time_travel", "cow")
    first = tbl.latest_instant()
    tbl.upsert(_upsert_batch(spark, sf))
    tbl.delete_where("acctbal < 0")
    return tbl.read(as_of=first).select(
        "c_custkey", "c_name", F.round("acctbal", 2).alias("acctbal"), "seg", "v"
    )


TBL_TT_ORACLE = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, c_mktsegment AS seg, 1 AS v
FROM customer
"""


def tbl_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """M11: table_changes since the first commit = latest state of the upsert batch."""
    tbl = _lifecycle_table(spark, sf, "tbl_incremental", "cow")
    first = tbl.latest_instant()
    tbl.upsert(_upsert_batch(spark, sf))
    return tbl.table_changes(start=first).select(
        "c_custkey", "c_name", F.round("acctbal", 2).alias("acctbal"), "seg", "v"
    )


TBL_INC_ORACLE = """
SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS acctbal, c_mktsegment AS seg, 2 AS v
FROM customer WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2
FROM customer WHERE c_custkey % 13 = 0
"""


def tbl_cdc_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """M13+M17: CDC batch (U/I/D) applied then rolled back — state returns to the
    original insert (compatibility_test.sh:155-186 healing semantics)."""
    tbl = _lifecycle_table(spark, sf, "tbl_cdc_rollback", "cow")
    cdc = (
        _upsert_batch(spark, sf)
        .withColumn("_op", F.when(F.col("c_custkey") > 1000000, F.lit("I")).otherwise(F.lit("U")))
        .unionByName(
            _cust_df(spark, sf).filter(F.col("c_custkey") % 11 == 0).withColumn("_op", F.lit("D"))
        )
    )
    tbl.write_cdc(cdc)
    tbl.rollback()
    return _final_snapshot(tbl)


def tbl_cdc_query(spark: SparkSession, sf: str) -> DataFrame:
    """M11/M13 extension: CDC-format incremental read — change type + flattened
    before/after images across an upsert + delete commit range. Before-images
    are the state at `start` (so an update-then-delete nets to D with the
    original image; an insert-then-delete nets to nothing)."""
    tbl = _lifecycle_table(spark, sf, "tbl_cdc_query", "cow")
    first = tbl.latest_instant()
    tbl.upsert(_upsert_batch(spark, sf))
    tbl.delete_where("c_custkey % 11 = 0")
    cdc = tbl.table_changes_cdc(start=first)
    return cdc.select(
        F.col("key").cast("bigint").alias("c_custkey"),
        "op",
        F.round(F.col("before.acctbal"), 2).alias("before_bal"),
        F.round(F.col("after.acctbal"), 2).alias("after_bal"),
        F.col("before.v").alias("before_v"),
        F.col("after.v").alias("after_v"),
    ).orderBy("op", "c_custkey")


TBL_CDC_ORACLE = """
SELECT c_custkey, 'U' AS op,
       round(c_acctbal, 2) AS before_bal, round(c_acctbal + 100.0, 2) AS after_bal,
       1 AS before_v, 2 AS after_v
FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
UNION ALL
SELECT c_custkey + 1000000, 'I',
       CAST(NULL AS DOUBLE), round(c_acctbal, 2), CAST(NULL AS INT), 2
FROM customer WHERE c_custkey % 13 = 0 AND (c_custkey + 1000000) % 11 <> 0
UNION ALL
SELECT c_custkey, 'D',
       round(c_acctbal, 2), CAST(NULL AS DOUBLE), 1, CAST(NULL AS INT)
FROM customer WHERE c_custkey % 11 = 0
ORDER BY op, c_custkey
"""


def tbl_scan_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """Col-stats data skipping under the oracle gate: sort-clustered table,
    range scan must prune files AND return exactly the SQL-filter rows."""
    base = os.path.join(_workdir("tbl_scan_pruned", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE",
        TableConfig(stats_cols=["l_orderkey"]),
    )
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    tbl.insert(li.repartition(16))
    tbl.cluster_sort(["l_orderkey"], n_files=16)
    return (
        tbl.scan([("l_orderkey", ">=", 100), ("l_orderkey", "<=", 500)])
        .select(
            "l_orderkey",
            F.round("l_quantity", 2).alias("l_quantity"),
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )
        .orderBy("l_orderkey", "l_quantity", "l_extendedprice")
    )


TBL_SCAN_ORACLE = """
SELECT l_orderkey, round(l_quantity, 2) AS l_quantity,
       round(l_extendedprice, 2) AS l_extendedprice
FROM lineitem WHERE l_orderkey >= 100 AND l_orderkey <= 500
ORDER BY l_orderkey, l_quantity, l_extendedprice
"""


def tbl_zorder_prune(spark: SparkSession, sf: str) -> DataFrame:
    """M15+ z-order clustering under the oracle gate (Hudi's
    ``hoodie.layout.optimize.strategy=z-order`` with
    ``hoodie.clustering.plan.strategy.sort.columns`` — the reference enables
    clustering via ``hoodie.clustering.*`` in ``DeltaStreamerExample.scala``;
    z-order is its multi-dimension data-skipping layout).

    Lifecycle: 16 unsorted files → ``cluster_zorder(['l_orderkey',
    'l_suppkey'])`` (morton interleave of uniformly quantized columns, pure
    JVM bit math, no UDF) → a narrow range scan on EACH dimension. A linear
    sort would only prune its leading column; z-order gives every listed
    dimension file-level locality, so both scans must skip files. The value
    hash certifies scan ≡ filter on both dimensions; the evidence literals
    ``prune_dim1_ok`` / ``prune_dim2_ok`` certify the per-file min/max stats
    actually skipped files under each dimension's predicate."""
    base = os.path.join(_workdir("tbl_zorder_prune", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE",
        TableConfig(stats_cols=["l_orderkey", "l_suppkey"]),
    )
    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    tbl.insert(li.repartition(16))
    tbl.cluster_zorder(["l_orderkey", "l_suppkey"], n_files=16)
    got1 = tbl.scan([("l_orderkey", ">=", 100), ("l_orderkey", "<=", 400)])
    s1 = dict(tbl.last_scan)
    got2 = tbl.scan([("l_suppkey", ">=", 1), ("l_suppkey", "<=", 3)])
    s2 = dict(tbl.last_scan)
    prune1 = bool(s1.get("pruned", 0) > 0)
    prune2 = bool(s2.get("pruned", 0) > 0)

    def shape(df, dim):
        return df.select(
            F.lit(dim).alias("dim"),
            "l_orderkey",
            "l_suppkey",
            F.round("l_quantity", 2).alias("qty"),
            F.round("l_extendedprice", 2).alias("price"),
            F.lit(prune1).alias("prune_dim1_ok"),
            F.lit(prune2).alias("prune_dim2_ok"),
        )

    return shape(got1, 1).unionByName(shape(got2, 2))


TBL_ZORDER_ORACLE = """
SELECT 1 AS dim, l_orderkey, l_suppkey, round(l_quantity, 2) AS qty,
       round(l_extendedprice, 2) AS price,
       TRUE AS prune_dim1_ok, TRUE AS prune_dim2_ok
FROM lineitem WHERE l_orderkey >= 100 AND l_orderkey <= 400
UNION ALL
SELECT 2, l_orderkey, l_suppkey, round(l_quantity, 2), round(l_extendedprice, 2),
       TRUE, TRUE
FROM lineitem WHERE l_suppkey >= 1 AND l_suppkey <= 3
"""


def tbl_rollup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental rollup maintenance under the oracle gate: per-segment
    sum/count kept exact across insert + upsert batches purely from the CDC
    feed (retraction-based deltas), never recomputed from the source."""
    from hudi_examples_spark.streaming.rollup import IncrementalRollup

    wd = _workdir("tbl_rollup_incremental", sf)
    base = os.path.join(wd, "tbl")
    tbl = Table.create(
        spark,
        base,
        CUST_SCHEMA,
        TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["seg"]),
    )
    roll = IncrementalRollup(tbl, os.path.join(wd, "agg"), ["seg"], ["acctbal"])
    tbl.insert(_cust_df(spark, sf))
    roll.refresh()
    tbl.upsert(_upsert_batch(spark, sf))
    roll.refresh()
    return roll.dst.read().select(
        "seg", F.round("sum_acctbal", 2).alias("sum_acctbal"), "n_rows"
    ).orderBy("seg")


TBL_ROLLUP_ORACLE = """
WITH final AS (
  SELECT c_custkey, c_mktsegment AS seg,
         c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0 END AS acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT seg, round(sum(acctbal), 2) AS sum_acctbal, count(*) AS n_rows
FROM final GROUP BY seg ORDER BY seg
"""


def tbl_join_view_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental JOIN-view maintenance (IVM): dst = customers ⋈ segment dim,
    kept exact purely from both tables' CDC feeds across insert + upsert +
    dim-update + delete batches — never recomputed from scratch after
    bootstrap. The slice-recompute engine lives in streaming/join_view.py."""
    from hudi_examples_spark.streaming.join_view import IncrementalJoinView

    wd = _workdir("tbl_join_view_incremental", sf)
    left = Table.create(
        spark,
        os.path.join(wd, "cust"),
        CUST_SCHEMA,
        TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["seg"]),
    )
    right = Table.create(
        spark,
        os.path.join(wd, "dim"),
        "seg STRING, seg_name STRING, budget DOUBLE",
        TableConfig(record_key=["seg"]),
    )
    view = IncrementalJoinView(
        left,
        right,
        os.path.join(wd, "view"),
        "seg",
        ["c_custkey", "c_name", "acctbal"],
        ["seg_name", "budget"],
    )
    left.insert(_cust_df(spark, sf))
    right.insert(
        _cust_df(spark, sf)
        .select("seg")
        .distinct()
        .select(
            "seg",
            F.concat(F.lit("Region-"), F.col("seg")).alias("seg_name"),
            (F.length("seg") * 100.0).alias("budget"),
        )
    )
    view.refresh()
    left.upsert(_upsert_batch(spark, sf))
    right.update_where("seg = 'BUILDING'", {"budget": "budget + 1000"})
    view.refresh()
    left.delete_where("c_custkey % 11 = 0")
    view.refresh()
    return view.dst.read().select(
        "c_custkey",
        "c_name",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "seg_name",
        F.round("budget", 2).alias("budget"),
    ).orderBy("c_custkey")


TBL_JOIN_VIEW_ORACLE = """
WITH final_cust AS (
  SELECT c_custkey, c_name,
         c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0 END AS acctbal,
         c_mktsegment AS seg
  FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 13 = 0
),
dim AS (
  SELECT DISTINCT c_mktsegment AS seg,
         'Region-' || c_mktsegment AS seg_name,
         length(c_mktsegment) * 100.0
           + CASE WHEN c_mktsegment = 'BUILDING' THEN 1000 ELSE 0 END AS budget
  FROM customer
)
SELECT f.c_custkey, f.c_name, round(f.acctbal, 2) AS acctbal, f.seg,
       d.seg_name, round(d.budget, 2) AS budget
FROM final_cust f JOIN dim d USING (seg)
WHERE f.c_custkey % 11 <> 0
ORDER BY f.c_custkey
"""


# ---------------------------------------------------------------------------
# The reference's canonical compatibility workload, driver-gated.
# ---------------------------------------------------------------------------

BATCH_SCHEMA = "ts BIGINT, uuid STRING, fare DOUBLE, part STRING"

#: Per-batch checkpoint counts from the reference schedule
#: (``compatibility_test.sh:68-70,101,139,169,181,186,194,212``).
BATCH_EXPECTED = [990, 1980, 2980, 3970, 4960]


def batch_insert_df(spark: SparkSession, batch: int, n_ins: int = 1000) -> DataFrame:
    """Batch `batch`'s 1000 fresh keys (ids batch*1000 .. +999)."""
    base = batch * n_ins
    return spark.range(base, base + n_ins).select(
        (F.col("id") + 1_000_000_000).alias("ts"),
        F.concat(F.lit("k"), F.col("id")).alias("uuid"),
        (F.col("id") % 97).cast("double").alias("fare"),
        F.concat(F.lit("p"), (F.col("id") % 4)).alias("part"),
    )


def batch_update_df(spark: SparkSession, batch: int, n_upd: int = 100) -> DataFrame:
    """Batch `batch`'s 100 updates: previous batch's first 100 keys → fare 999."""
    prev = (batch - 1) * 1000
    return spark.range(prev, prev + n_upd).select(
        (F.col("id") + 2_000_000_000).alias("ts"),
        F.concat(F.lit("k"), F.col("id")).alias("uuid"),
        F.lit(999.0).alias("fare"),
        F.concat(F.lit("p"), (F.col("id") % 4)).alias("part"),
    )


def batch_delete_keys(spark: SparkSession, batch: int, n_del: int = 10) -> DataFrame:
    """Batch `batch`'s 10 deletes: previous batch's last 10 keys."""
    prev_end = (batch - 1) * 1000 + 1000
    return spark.range(prev_end - n_del, prev_end).select(
        F.concat(F.lit("k"), F.col("id")).alias("uuid")
    )


def run_batch_schedule(
    spark: SparkSession,
    tbl: Table,
    compact_every: int | None = None,
    rollback_fault_after: int | None = None,
) -> list[int]:
    """The reference's 5 × (1000 ins + 100 upd + 10 del) schedule with the
    990/1980/2980/3970/4960 checkpoints. Batch 3's deletes re-target batch 1's
    already-deleted keys — the expected counts encode that deletes of absent
    keys are idempotent no-ops (the reference runs batch 3 with numDeletes=0;
    an absent-key delete is the equivalent observable).

    ``rollback_fault_after=b`` injects the reference's fault step after batch
    ``b`` (``compatibility_test.sh:155-186``): an extra "failed" batch is
    written and rolled back; the schedule's counts must be unaffected."""
    counts = []
    for b in range(1, 6):
        batch = batch_insert_df(spark, b - 1)
        tbl.insert(batch) if b == 1 else tbl.upsert(batch)
        tbl.upsert(batch_update_df(spark, b))
        tbl.delete(batch_delete_keys(spark, 1 if b == 3 else b))
        if compact_every and tbl.should_compact(compact_every):
            tbl.compact()
        counts.append(tbl.count())
        if rollback_fault_after == b:
            tbl.upsert(batch_insert_df(spark, 90))  # the "failed" extra batch
            tbl.rollback()
            if tbl.count() != counts[-1]:
                raise AssertionError(
                    f"rollback did not restore count: {tbl.count()} != {counts[-1]}"
                )
    return counts


def tbl_batch_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's end-to-end compatibility schedule under the driver gate
    (``compatibility_test.sh:68-212``): 5 batches of (1000 inserts + 100
    updates + 10 deletes) on a partitioned MOR table with mid-schedule
    compaction, the per-batch count checkpoints asserted in-line, and the
    mid-schedule rollback fault injection (an extra "failed" batch rolled
    back between batches 3 and 4 — the schedule's counts must be unaffected).
    Returns the final snapshot; the oracle reconstructs the identical final
    state generatively in DuckDB SQL (no sf tables involved — the workload is
    self-generated, as in the reference)."""
    base = os.path.join(_workdir("tbl_batch_schedule", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        BATCH_SCHEMA,
        TableConfig(record_key=["uuid"], precombine="ts", partition_by=["part"], table_type="mor"),
    )
    counts = run_batch_schedule(spark, tbl, compact_every=4, rollback_fault_after=3)
    if counts != BATCH_EXPECTED:
        raise AssertionError(f"checkpoint counts {counts} != {BATCH_EXPECTED}")
    return tbl.read().select("uuid", "ts", "fare", "part").orderBy("uuid")


def tbl_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """M18+ full schema-evolution lifecycle under the driver gate: explicit
    ADD COLUMN (tier), batch AUTO-evolution (tmp_note arrives only in a
    batch), RENAME acctbal→balance, a post-rename upsert addressed via the
    HISTORICAL column name (the stale-writer path: it must land in the
    renamed column), and DROP of the auto-added column. The final snapshot —
    old-generation files read through the rename chain, three interleaved
    key cohorts, the dropped column gone — must hash-match plain SQL over
    the source table."""
    tbl = _lifecycle_table(spark, sf, "tbl_schema_evolution", "cow")
    tbl.add_columns("tier STRING")
    c = _cust_df(spark, sf)
    b1 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("acctbal", F.col("acctbal") + 50.0)
        .withColumn("v", F.lit(2))
        .withColumn("tier", F.lit("gold"))
        .withColumn("tmp_note", F.lit("x"))  # auto-evolves into the schema
    )
    tbl.upsert(b1)
    tbl.rename_column("acctbal", "balance")
    # stale-writer batch: still uses the OLD name; must write `balance`
    b2 = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("acctbal", F.col("acctbal") + 7.0)
        .withColumn("v", F.lit(3))
    )
    tbl.upsert(b2)
    tbl.drop_columns(["tmp_note"])
    return (
        tbl.read()
        .select(
            "c_custkey",
            "c_name",
            F.round("balance", 2).alias("balance"),
            "seg",
            "v",
            "tier",
        )
        .orderBy("c_custkey")
    )


TBL_SCHEMA_EVOLUTION_ORACLE = """
SELECT c_custkey, c_name,
       round(c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 7.0
                              WHEN c_custkey % 3 = 0 THEN 50.0 ELSE 0 END, 2) AS balance,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 5 = 0 THEN 3 WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS v,
       CASE WHEN c_custkey % 5 <> 0 AND c_custkey % 3 = 0 THEN 'gold' END AS tier
FROM customer
ORDER BY c_custkey
"""


def tbl_savepoint_restore(spark: SparkSession, sf: str) -> DataFrame:
    """M16/M17 savepoint + restore under the driver gate: insert → savepoint →
    two mutating commits (upsert + delete) → restore to the savepoint. The
    final snapshot must be bit-identical to the initial insert — every
    post-savepoint commit rolled back newest-first, their files removed, and
    the savepointed state fully reconstructible (the guarantee clean() pins
    files for). Oracle: the plain initial-state SQL."""
    tbl = _lifecycle_table(spark, sf, "tbl_savepoint_restore", "cow")
    sp = tbl.savepoint()
    tbl.upsert(_upsert_batch(spark, sf))
    tbl.delete_where("c_custkey % 5 = 0")
    tbl.restore_to_savepoint(sp)
    return _final_snapshot(tbl)


TBL_SAVEPOINT_ORACLE = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, c_mktsegment AS seg, 1 AS v
FROM customer
"""


#: Final schedule state, reconstructed generatively: ids 0..4999 inserted;
#: ids with id%1000<100 updated to fare=999/ts=id+2e9; the four real delete
#: batches remove id%1000>=990 for batches 1,2,4,5 (batch 3's re-targeted
#: delete is a no-op), i.e. all but ids 2990..2999.
TBL_BATCH_SCHEDULE_ORACLE = """
SELECT 'k' || CAST(i AS VARCHAR) AS uuid,
       CASE WHEN i % 1000 < 100 THEN i + 2000000000 ELSE i + 1000000000 END AS ts,
       CASE WHEN i % 1000 < 100 THEN 999.0 ELSE CAST(i % 97 AS DOUBLE) END AS fare,
       'p' || CAST(i % 4 AS VARCHAR) AS part
FROM range(0, 5000) t(i)
WHERE NOT (i % 1000 >= 990 AND (i < 2000 OR i >= 3000))
ORDER BY uuid
"""


def tbl_run_services(spark: SparkSession, sf: str) -> DataFrame:
    """M14+ ``run_services()`` policy pass under the driver gate (round 5).

    Lifecycle on an indexed MOR table: insert → secondary index on ``c_name``
    → keyed upsert (log commit) → Hudi-1.0 PARTIAL update (acctbal-only log
    rows) → compaction → ROLLBACK of the compaction (a replace commit whose
    rollback resurrects row versions, so the index conservatively invalidates
    — the advisor's round-4 finding) → one ``run_services`` pass, which must
    re-compact the still-pending logs, REBUILD the invalidated index, and
    leave snapshot semantics untouched. The emitted evidence literals certify
    under the driver hash that (a) services re-compacted, (b) the index was
    rebuilt back to valid, and (c) an index lookup answers identically to a
    plain filter afterwards; the rest of the row is the ordinary final-state
    differential (upsert + partial-update column merge, services-invariant).
    """
    base = os.path.join(_workdir("tbl_run_services", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        CUST_SCHEMA,
        TableConfig(
            record_key=["c_custkey"], precombine="v", partition_by=["seg"], table_type="mor"
        ),
    )
    tbl.insert(_cust_df(spark, sf))
    tbl.create_secondary_index("c_name")
    tbl.upsert(_upsert_batch(spark, sf))
    partial = (
        _cust_df(spark, sf)
        .filter(F.col("c_custkey") % 9 == 0)
        .select(
            "c_custkey",
            (F.col("c_custkey") * 2.0).alias("acctbal"),
            F.lit(3).alias("v"),
        )
    )
    tbl.update_partial(partial)
    ci = tbl.compact()
    tbl.rollback(ci)  # resurrects the compacted-away versions → index invalid
    report = tbl.run_services(compact_after=1)
    compacted_ok = report.get("compacted") is not None
    rebuilt_ok = "c_name" in report.get("indexes_rebuilt", []) and bool(
        (tbl._index_meta("c_name") or {}).get("valid")
    )
    target = tbl.read().orderBy("c_custkey").select("c_name").first()[0]
    lookup_ok = (
        tbl.lookup("c_name", target).count()
        == tbl.read().filter(F.col("c_name") == target).count()
    )
    return tbl.read().select(
        "c_custkey",
        "c_name",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "v",
        F.lit(bool(compacted_ok)).alias("services_compacted_ok"),
        F.lit(bool(rebuilt_ok)).alias("index_rebuilt_ok"),
        F.lit(bool(lookup_ok)).alias("index_lookup_ok"),
    )


TBL_RUN_SERVICES_ORACLE = """
SELECT c_custkey, c_name,
       round(CASE WHEN c_custkey % 9 = 0 THEN c_custkey * 2.0
                  WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 9 = 0 THEN 3
            WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS services_compacted_ok,
       TRUE AS index_rebuilt_ok,
       TRUE AS index_lookup_ok
FROM customer
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2,
       TRUE, TRUE, TRUE
FROM customer WHERE c_custkey % 13 = 0
"""


def tbl_async_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """M14+ async compaction — the schedule/execute split (Hudi's
    ``compaction.requested`` plan + standalone HoodieCompactor; reference
    inline form at ``DeltaStreamerExample.scala:48-55``).

    Lifecycle on a MOR table: insert → keyed upsert (log commit) →
    ``schedule_compaction()`` cuts the plan → WRITERS KEEP GOING after the
    plan (a %11 upsert and a ``delete_where``, both landing as post-plan
    logs) → ``run_compaction()`` executes the stale-but-valid plan. The
    property certified under the driver hash: post-schedule logs survive the
    execution (they stay live and supersede the compacted base by commit
    ordering), so the final snapshot equals the sequential-history state —
    scheduling never blocks or loses concurrent writes. Evidence literals:
    ``plan_cut_ok`` (the plan instant existed and was listed pending),
    ``executed_ok`` (execution produced a replacecommit and cleared the
    plan), ``post_logs_live_ok`` (the post-schedule deltacommits are still
    live files after execution, i.e. the plan merged ONLY its own inputs)."""
    tbl = _lifecycle_table(spark, sf, "tbl_async_compaction", "mor")
    tbl.upsert(_upsert_batch(spark, sf))
    plan = tbl.schedule_compaction()
    plan_cut_ok = plan is not None and [
        i.instant for i in tbl.pending_compactions()
    ] == [plan]
    # post-schedule writer traffic: an upsert and a delete, as MOR logs
    eleven = (
        _cust_df(spark, sf)
        .filter(F.col("c_custkey") % 11 == 0)
        .withColumn("acctbal", F.col("acctbal") + 50.0)
        .withColumn("v", F.lit(3))
    )
    tbl.upsert(eleven)
    tbl.delete_where("c_custkey % 5 = 0")
    out = tbl.run_compaction()
    executed_ok = out is not None and tbl.pending_compactions() == []
    files, _ = tbl.timeline.live_files()
    post_logs_live_ok = any(a == "deltacommit" for _, (_, a) in files.items())
    return tbl.read().select(
        "c_custkey",
        "c_name",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "v",
        F.lit(bool(plan_cut_ok)).alias("plan_cut_ok"),
        F.lit(bool(executed_ok)).alias("executed_ok"),
        F.lit(bool(post_logs_live_ok)).alias("post_logs_live_ok"),
    )


TBL_ASYNC_COMPACTION_ORACLE = """
SELECT c_custkey, c_name,
       round(CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0
                  WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 11 = 0 THEN 3
            WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS plan_cut_ok, TRUE AS executed_ok, TRUE AS post_logs_live_ok
FROM customer
WHERE c_custkey % 5 <> 0
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2,
       TRUE, TRUE, TRUE
FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 5 <> 0
"""


def tbl_log_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """M14+ LOG compaction under the driver gate (Hudi 1.0
    ``hoodie.log.compaction.enable``): stitch a MOR partition's small log
    files into ONE consolidated log — no base files written.

    Lifecycle: insert → three log commits (keyed upsert, a %11 upsert, a
    ``delete_where``) → ``compact_logs``. The value hash certifies the
    consolidated log resolves identically to the original chain (update
    wins, delete stays dead, precombine ordering intact); the evidence
    literals certify ``logs_stitched_ok`` (live log count strictly
    decreased, still ≥1 — it stayed a log, it didn't become base) and
    ``base_untouched_ok`` (the base file set is byte-for-byte the same
    rels — the no-base-rewrite property that makes this the cheap service)."""
    tbl = _lifecycle_table(spark, sf, "tbl_log_compaction", "mor")
    tbl.upsert(_upsert_batch(spark, sf))
    eleven = (
        _cust_df(spark, sf)
        .filter(F.col("c_custkey") % 11 == 0)
        .withColumn("acctbal", F.col("acctbal") + 50.0)
        .withColumn("v", F.lit(3))
    )
    tbl.upsert(eleven)
    tbl.delete_where("c_custkey % 5 = 0")
    files0, _ = tbl.timeline.live_files()
    logs0 = sum(1 for _, (_, a) in files0.items() if a == "deltacommit")
    base0 = sorted(r for r, (_, a) in files0.items() if a != "deltacommit")
    out = tbl.compact_logs(min_logs_per_partition=2)
    files1, _ = tbl.timeline.live_files()
    logs1 = sum(1 for _, (_, a) in files1.items() if a == "deltacommit")
    base1 = sorted(r for r, (_, a) in files1.items() if a != "deltacommit")
    logs_stitched_ok = out is not None and 0 < logs1 < logs0
    base_untouched_ok = base0 == base1
    return tbl.read().select(
        "c_custkey",
        "c_name",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "v",
        F.lit(bool(logs_stitched_ok)).alias("logs_stitched_ok"),
        F.lit(bool(base_untouched_ok)).alias("base_untouched_ok"),
    )


TBL_LOG_COMPACTION_ORACLE = """
SELECT c_custkey, c_name,
       round(CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0
                  WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 11 = 0 THEN 3
            WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS logs_stitched_ok, TRUE AS base_untouched_ok
FROM customer
WHERE c_custkey % 5 <> 0
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2,
       TRUE, TRUE
FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 5 <> 0
"""


def tbl_async_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """M15+ async clustering under the driver gate — the schedule/execute
    split for layout rewrites (Hudi's ``replacecommit.requested`` plan + the
    standalone clustering job).

    Lifecycle on a MOR table: insert (base files, out of layout) →
    ``schedule_clustering(['acctbal'])`` pins the exact files →  WRITERS KEEP
    GOING (the standard upsert batch lands as post-plan logs) →
    ``run_clustering()`` re-lays-out exactly the pinned base files as a pure
    commit-preserving copy. The value hash certifies the post-plan logs
    still supersede the re-laid-out base (final state = sequential history);
    evidence literals: ``plan_cut_ok`` (plan listed pending with >0 pinned
    files), ``executed_ok`` (plan executed and cleared),
    ``post_logs_live_ok`` (the post-schedule deltacommits remain live)."""
    tbl = _lifecycle_table(spark, sf, "tbl_async_clustering", "mor")
    plan = tbl.schedule_clustering(["acctbal"], n_files=4)
    plan_cut_ok = plan is not None and any(
        i.instant == plan and len(i.meta.get("rewrite", [])) > 0
        for i in tbl.pending_clusterings()
    )
    tbl.upsert(_upsert_batch(spark, sf))  # post-plan writer traffic (logs)
    out = tbl.run_clustering()
    executed_ok = out is not None and tbl.pending_clusterings() == []
    files, _ = tbl.timeline.live_files()
    post_logs_live_ok = any(a == "deltacommit" for _, (_, a) in files.items())
    return tbl.read().select(
        "c_custkey",
        "c_name",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "v",
        F.lit(bool(plan_cut_ok)).alias("plan_cut_ok"),
        F.lit(bool(executed_ok)).alias("executed_ok"),
        F.lit(bool(post_logs_live_ok)).alias("post_logs_live_ok"),
    )


TBL_ASYNC_CLUSTERING_ORACLE = """
SELECT c_custkey, c_name,
       round(c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0 END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS plan_cut_ok, TRUE AS executed_ok, TRUE AS post_logs_live_ok
FROM customer
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2,
       TRUE, TRUE, TRUE
FROM customer WHERE c_custkey % 13 = 0
"""


def tbl_bloom_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """BLOOM-index lifecycle (``hoodie.index.type=BLOOM``, the reference
    quickstart's default index): record keys are md5 hex — uniformly RANDOM, so
    every file's [min, max] key range spans the space and the range index alone
    can't prune the upsert's location scan or scope its rewrite; only the
    per-file bloom sidecars can. Three inserts build overlapping file groups,
    then one upsert batch updates %21 keys and inserts %13 keys. The emitted
    ``bloom_scoped_ok`` literal certifies under the driver hash that the bloom
    actually pruned the COW rewrite set (candidates < total at plan time);
    the rest of the row is the ordinary final-state differential."""
    base = os.path.join(_workdir("tbl_bloom_upsert", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "id STRING, c_custkey BIGINT, name STRING, acctbal DOUBLE, v INT",
        TableConfig(record_key=["id"], precombine="v", bloom_index=True),
    )
    c = t(spark, sf, "customer").select(
        F.md5(F.col("c_custkey").cast("string")).alias("id"),
        "c_custkey",
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(1).alias("v"),
    )
    for m in range(3):  # three bulk loads of disjoint random-key files (plain
        # insert would route through the precombine merge and re-merge to one
        # file group per commit — bulk_insert is Hudi's raw no-lookup load)
        tbl.bulk_insert(c.filter(F.col("c_custkey") % 3 == m))
    # update keys drawn from commit 0 only (%3==0): the batch's files all live
    # in one commit, so a correctly-scoped rewrite must leave the other
    # commits' files out of the candidate set — that is what the emitted
    # bloom_scoped_ok literal certifies
    updates = c.filter(
        (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 7 == 0)
    ).withColumns({"acctbal": F.col("acctbal") + 100.0, "v": F.lit(2)})
    inserts = (
        c.filter(F.col("c_custkey") % 13 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumns(
            {"id": F.md5(F.col("c_custkey").cast("string")), "v": F.lit(2)}
        )
    )
    tbl.upsert(updates.unionByName(inserts))
    prune = getattr(tbl, "last_key_prune", None) or {}
    scoped = bool(prune.get("candidates", 0) < prune.get("total", 0))
    return tbl.read().select(
        "id",
        "c_custkey",
        "name",
        F.round("acctbal", 2).alias("acctbal"),
        "v",
        F.lit(scoped).alias("bloom_scoped_ok"),
    )


TBL_BLOOM_ORACLE = """
SELECT md5(CAST(c_custkey AS VARCHAR)) AS id, c_custkey, c_name AS name,
       round(c_acctbal + CASE WHEN c_custkey % 21 = 0 THEN 100.0 ELSE 0 END, 2) AS acctbal,
       CASE WHEN c_custkey % 21 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS bloom_scoped_ok
FROM customer
UNION ALL
SELECT md5(CAST(c_custkey + 1000000 AS VARCHAR)), c_custkey + 1000000, c_name,
       round(c_acctbal, 2), 2, TRUE
FROM customer WHERE c_custkey % 13 = 0
"""


def tbl_secondary_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Secondary-index point lookup (Hudi 1.0 secondary index / metadata
    indexer): a table keyed on the zero-padded customer name (clustered key
    ranges), with a secondary index on the NON-key phone column. After three
    bulk loads and an index-maintaining insert commit, an equality lookup on a
    phone value resolves via the index to record keys and rides the key
    range/bloom prune to a subset file read. ``index_pruned_ok`` certifies under the driver hash
    that the lookup scanned fewer files than the table holds; the row set is
    the ordinary differential (all customers sharing the target phone)."""
    base = os.path.join(_workdir("tbl_secondary_lookup", sf), "tbl")
    # bloom_index: rewrites hash-scatter rows, so after the maintaining upsert
    # the rewritten files' key RANGES span the space — the bloom sidecars are
    # what keep the lookup's file pruning sharp (exactly Hudi's design: bloom
    # for random access, clustering to restore sort order)
    tbl = Table.create(
        spark,
        base,
        "name STRING, custkey BIGINT, phone STRING, acctbal DOUBLE, v INT",
        TableConfig(record_key=["name"], precombine="v", bloom_index=True),
    )
    c = t(spark, sf, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_custkey").alias("custkey"),
        # the sf customer table carries no phone column: derive a unique
        # synthetic one (identically in the oracle) to play the indexed
        # high-cardinality non-key attribute
        F.md5(F.concat(F.lit("ph"), F.col("c_custkey").cast("string"))).alias("phone"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(1).alias("v"),
    )
    n = c.count()
    for m in range(3):  # thirds by custkey ⇒ zero-padded names cluster per file
        tbl.bulk_insert(c.filter(F.floor((F.col("custkey") - 1) * 3 / n) == m))
    tbl.create_secondary_index("phone")
    # index-maintaining commit: NEW keys only, so they land in a fresh file
    # group and the three clustered loads keep their disjoint name ranges —
    # the lookup then has >1 file group to prune (a broad update batch would
    # rewrite-and-merge everything into one file at small scales)
    inserts = (
        c.filter(F.col("custkey") % 13 == 0)
        .withColumn("custkey", F.col("custkey") + 1000000)
        .withColumns(
            {
                "name": F.concat(F.lit("Customer#"), F.lpad(F.col("custkey").cast("string"), 9, "0")),
                "phone": F.md5(F.concat(F.lit("ph"), F.col("custkey").cast("string"))),
                "v": F.lit(2),
            }
        )
    )
    tbl.upsert(inserts)
    import hashlib

    target = hashlib.md5(b"ph7").hexdigest()  # custkey 7's derived phone
    out = tbl.lookup("phone", target)
    ev = getattr(tbl, "last_index_lookup", None) or {}
    pruned_ok = bool(ev.get("scanned", 0) < ev.get("total", 0))
    return out.select(
        "name",
        "custkey",
        "phone",
        F.round("acctbal", 2).alias("acctbal"),
        "v",
        F.lit(pruned_ok).alias("index_pruned_ok"),
    )


TBL_SECONDARY_ORACLE = """
WITH final AS (
  SELECT c_name AS name, c_custkey AS custkey,
         md5('ph' || CAST(c_custkey AS VARCHAR)) AS phone,
         round(c_acctbal, 2) AS acctbal, 1 AS v
  FROM customer
  UNION ALL
  SELECT 'Customer#' || lpad(CAST(c_custkey + 1000000 AS VARCHAR), 9, '0'),
         c_custkey + 1000000,
         md5('ph' || CAST(c_custkey + 1000000 AS VARCHAR)),
         round(c_acctbal, 2), 2
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT name, custkey, phone, acctbal, v, TRUE AS index_pruned_ok
FROM final WHERE phone = md5('ph7')
"""


def tbl_partial_update(spark: SparkSession, sf: str) -> DataFrame:
    """MOR partial updates (Hudi 1.0 partial update payloads): two partial
    log commits each carry ONE data column — acctbal for %5 keys, then seg
    for %7 keys — and the merged read resolves column-by-column. A %35 key
    proves the semantics: its acctbal comes from the first partial, its seg
    from the second, its v from the newest setter; no full-row write ever
    happened after the load."""
    base = os.path.join(_workdir("tbl_partial_update", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        CUST_SCHEMA,
        TableConfig(record_key=["c_custkey"], precombine="v", table_type="mor"),
    )
    tbl.insert(_cust_df(spark, sf))
    c = _cust_df(spark, sf)
    tbl.update_partial(
        c.filter(F.col("c_custkey") % 5 == 0).select(
            "c_custkey", (F.col("acctbal") + 200.0).alias("acctbal"), F.lit(2).alias("v")
        )
    )
    tbl.update_partial(
        c.filter(F.col("c_custkey") % 7 == 0).select(
            "c_custkey", F.lit("PARTIAL").alias("seg"), F.lit(3).alias("v")
        )
    )
    return _final_snapshot(tbl)


TBL_PARTIAL_ORACLE = """
SELECT c_custkey, c_name,
       round(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 200.0 ELSE c_acctbal END, 2) AS acctbal,
       CASE WHEN c_custkey % 7 = 0 THEN 'PARTIAL' ELSE c_mktsegment END AS seg,
       CASE WHEN c_custkey % 7 = 0 THEN 3 WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END AS v
FROM customer
"""


def tbl_partition_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi ``delete_partition`` lifecycle (``hoodie.datasource.write
    .operation=delete_partition`` / ``ALTER TABLE DROP PARTITION``): customers
    land partitioned by mktsegment, one partition is dropped in a
    metadata-only replacecommit, a later upsert updates rows in a SURVIVING
    partition, and the final snapshot is the differential. The emitted
    ``drop_metadata_only_ok`` literal certifies under the driver hash that the
    drop commit added ZERO files (pure manifest surgery — at 100 TB the same
    drop is O(partition file count) planning, no data IO); time travel to the
    pre-drop instant still sees the partition (``time_travel_sees_dropped``),
    which is the retention contract cleaning honors."""
    base = os.path.join(_workdir("tbl_partition_lifecycle", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "custkey BIGINT, name STRING, acctbal DOUBLE, seg STRING, v INT",
        TableConfig(record_key=["custkey"], precombine="v", partition_by=["seg"]),
    )
    c = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).alias("v"),
    )
    tbl.insert(c)
    pre_drop = tbl.latest_instant()
    inst = tbl.delete_partition({"seg": "BUILDING"})
    target = next(
        i for i in tbl.timeline.completed_data_instants() if i.instant == inst
    )
    drop_meta_only = target.files_added == [] and bool(target.files_removed)
    tt_sees = (
        tbl.read(as_of=pre_drop).filter(F.col("seg") == "BUILDING").limit(1).count()
        == 1
    )
    t2 = Table(spark, base)
    t2.upsert(
        c.filter((F.col("seg") == "MACHINERY") & (F.col("custkey") % 5 == 0))
        .withColumns({"acctbal": F.col("acctbal") + 50.0, "v": F.lit(2)})
    )
    return Table(spark, base).read().select(
        "custkey",
        "name",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "v",
        F.lit(drop_meta_only).alias("drop_metadata_only_ok"),
        F.lit(tt_sees).alias("time_travel_sees_dropped"),
    )


TBL_PARTITION_LIFECYCLE_ORACLE = """
SELECT c_custkey AS custkey, c_name AS name,
       round(c_acctbal + CASE WHEN c_mktsegment = 'MACHINERY' AND c_custkey % 5 = 0
                              THEN 50.0 ELSE 0 END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_mktsegment = 'MACHINERY' AND c_custkey % 5 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS drop_metadata_only_ok,
       TRUE AS time_travel_sees_dropped
FROM customer
WHERE c_mktsegment <> 'BUILDING'
"""


def tbl_metadata_tvf(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi 1.0 ``hudi_metadata()`` TVF under the oracle gate: the metadata
    table's own accounting must reproduce the data. After the standard
    insert + upsert lifecycle on a COW table with footer stats and a record
    index, the hashed row set is built FROM the metadata partitions — per
    hive partition, ``num_rows`` comes from ``metadata('partitions')``
    (live-manifest footer sums, zero data reads), and three consistency
    markers certify the other partitions: ``files_ok`` (every partition
    lists >=1 live file), ``stats_ok`` (per-partition min/max of the
    ``acctbal`` stats column recomposed from ``metadata('column_stats')``
    equals the snapshot's true min/max), ``rli_ok`` (distinct
    ``record_index`` keys equal the snapshot row count — the complete-
    superset contract restricted to live files). The oracle computes the
    same partition counts from raw SQL and pins every marker true."""
    base = os.path.join(_workdir("tbl_metadata_tvf", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        CUST_SCHEMA,
        TableConfig(
            record_key=["c_custkey"],
            precombine="v",
            partition_by=["seg"],
            stats_cols=["acctbal"],
        ),
    )
    tbl.insert(_cust_df(spark, sf))
    tbl.create_record_index()
    tbl.upsert(_upsert_batch(spark, sf))

    parts = tbl.metadata("partitions").select(
        "partition",
        "num_rows",
        (F.col("n_files") >= 1).cast("long").alias("files_ok"),
    )
    # recompose per-partition stats bounds from the column_stats partition
    cs = (
        tbl.metadata("column_stats")
        .filter(F.col("col_name") == "acctbal")
        .select(
            F.split("file_name", "/")[0].alias("partition"),
            F.col("min_value").cast("double").alias("mn"),
            F.col("max_value").cast("double").alias("mx"),
        )
        .groupBy("partition")
        .agg(F.min("mn").alias("meta_min"), F.max("mx").alias("meta_max"))
    )
    truth = (
        tbl.read()
        .groupBy("seg")
        .agg(F.min("acctbal").alias("t_min"), F.max("acctbal").alias("t_max"))
        .select(F.concat(F.lit("seg="), "seg").alias("partition"), "t_min", "t_max")
    )
    stats = cs.join(truth, "partition").select(
        "partition",
        ((F.col("meta_min") == F.col("t_min")) & (F.col("meta_max") == F.col("t_max")))
        .cast("long")
        .alias("stats_ok"),
    )
    n_keys = tbl.metadata("record_index").select("record_key").distinct().count()
    n_rows = tbl.read().count()
    rli_ok = 1 if n_keys == n_rows else 0
    return (
        parts.join(stats, "partition")
        .select(
            "partition",
            "num_rows",
            "files_ok",
            "stats_ok",
            F.lit(rli_ok).cast("long").alias("rli_ok"),
        )
        .orderBy("partition")
    )


TBL_METADATA_ORACLE = """
WITH final AS (
  SELECT c_custkey, c_mktsegment AS seg FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, c_mktsegment FROM customer WHERE c_custkey % 13 = 0
)
SELECT 'seg=' || seg AS partition, count(*)::BIGINT AS num_rows,
       1::BIGINT AS files_ok, 1::BIGINT AS stats_ok, 1::BIGINT AS rli_ok
FROM final GROUP BY seg ORDER BY partition
"""


def tbl_record_index(spark: SparkSession, sf: str) -> DataFrame:
    """Record-level index lifecycle (Hudi 1.0 RLI,
    ``hoodie.metadata.record.index.enable``): a global (key → file) mapping
    that resolves keyed writes to their EXACT holder files with zero
    data-file reads. Keys are md5 hex — uniformly random, so range pruning
    is blind and this is the regime where Hudi built the RLI. Three bulk
    loads build disjoint-key file groups across the mktsegment partitions;
    then (a) a pure-insert upsert must plan to ZERO rewrite candidates
    (``rli_insert_empty``), (b) a mixed batch — updates drawn from load 0
    only, partition-MOVING rows, fresh inserts — must scope its rewrite
    below the full file set (``rli_upsert_scoped``), and (c) a
    delete-where confined to load 1 must do the same
    (``rli_delete_scoped``). All three literals certify under the driver
    hash that planning went through the record index (``last_key_prune``
    carries the ``record_index`` marker); the rest of the row set is the
    ordinary final-state differential, including the global-index partition
    moves."""
    base = os.path.join(_workdir("tbl_record_index", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "id STRING, custkey BIGINT, acctbal DOUBLE, seg STRING, v INT",
        TableConfig(record_key=["id"], precombine="v", partition_by=["seg"]),
    )
    c = t(spark, sf, "customer").select(
        F.md5(F.col("c_custkey").cast("string")).alias("id"),
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).alias("v"),
    )
    for m in range(3):
        tbl.bulk_insert(c.filter(F.col("custkey") % 3 == m))
    tbl.create_record_index()

    def reinsert(offset: int, mod: int):
        return (
            c.filter(F.col("custkey") % mod == 0)
            .withColumn("custkey", F.col("custkey") + offset)
            .withColumns(
                {"id": F.md5(F.col("custkey").cast("string")), "v": F.lit(2)}
            )
        )

    # (a) pure inserts: the RLI proves no live file holds any key — the
    # rewrite set is EMPTY, the property range pruning can't give for
    # uniform-random keys
    t1 = Table(spark, base)
    t1.upsert(reinsert(2_000_000, 19))
    p1 = getattr(t1, "last_key_prune", None) or {}
    insert_empty = bool(p1.get("record_index")) and p1.get("candidates", -1) == 0

    # (b) mixed batch: updates confined to load 0 (%3==0), moves to a NEW
    # partition (global index moves the record), fresh inserts
    updates = c.filter(
        (F.col("custkey") % 3 == 0) & (F.col("custkey") % 7 == 0)
    ).withColumns({"acctbal": F.col("acctbal") + 100.0, "v": F.lit(2)})
    moves = c.filter(
        (F.col("custkey") % 3 == 0)
        & (F.col("custkey") % 7 != 0)
        & (F.col("custkey") % 11 == 0)
    ).withColumns({"seg": F.lit("MOVED"), "v": F.lit(2)})
    t2 = Table(spark, base)
    t2.upsert(updates.unionByName(moves).unionByName(reinsert(1_000_000, 13)))
    p2 = getattr(t2, "last_key_prune", None) or {}
    upsert_scoped = bool(p2.get("record_index")) and (
        p2.get("candidates", 0) < p2.get("total", 0)
    )

    # (c) delete confined to load 1 (plus any re-inserted key landing on the
    # predicate) — scoped the same way
    t3 = Table(spark, base)
    t3.delete_where("custkey % 3 = 1 AND custkey % 17 = 0")
    p3 = getattr(t3, "last_key_prune", None) or {}
    delete_scoped = bool(p3.get("record_index")) and (
        p3.get("candidates", 0) < p3.get("total", 0)
    )

    return Table(spark, base).read().select(
        "id",
        "custkey",
        F.round("acctbal", 2).alias("acctbal"),
        "seg",
        "v",
        F.lit(insert_empty).alias("rli_insert_empty"),
        F.lit(upsert_scoped).alias("rli_upsert_scoped"),
        F.lit(delete_scoped).alias("rli_delete_scoped"),
    )


TBL_RECORD_INDEX_ORACLE = """
WITH final AS (
  SELECT md5(CAST(c_custkey AS VARCHAR)) AS id,
         c_custkey AS custkey,
         round(c_acctbal + CASE WHEN c_custkey % 3 = 0 AND c_custkey % 7 = 0
                                THEN 100.0 ELSE 0 END, 2) AS acctbal,
         CASE WHEN c_custkey % 3 = 0 AND c_custkey % 7 <> 0 AND c_custkey % 11 = 0
              THEN 'MOVED' ELSE c_mktsegment END AS seg,
         CASE WHEN c_custkey % 3 = 0 AND (c_custkey % 7 = 0 OR c_custkey % 11 = 0)
              THEN 2 ELSE 1 END AS v
  FROM customer
  UNION ALL
  SELECT md5(CAST(c_custkey + 2000000 AS VARCHAR)), c_custkey + 2000000,
         round(c_acctbal, 2), c_mktsegment, 2
  FROM customer WHERE c_custkey % 19 = 0
  UNION ALL
  SELECT md5(CAST(c_custkey + 1000000 AS VARCHAR)), c_custkey + 1000000,
         round(c_acctbal, 2), c_mktsegment, 2
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT id, custkey, acctbal, seg, v,
       TRUE AS rli_insert_empty, TRUE AS rli_upsert_scoped, TRUE AS rli_delete_scoped
FROM final
WHERE NOT (custkey % 3 = 1 AND custkey % 17 = 0)
"""


def tbl_bootstrap(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi bootstrap, METADATA_ONLY (``hoodie.bootstrap.mode``): onboard an
    existing spark-written parquet dataset — the form every reference table
    starts from (``flink/src/main/sql/parquet_to_hudi.sql`` re-ingests such
    a dataset; bootstrap onboards it with zero data rewrite) — then run the
    standard upsert lifecycle OVER the bootstrapped files. ``boot_zero_rewrite``
    certifies under the hash gate that onboarding hardlinked every source
    file (no copy, no Spark job over the data); the row set certifies meta-
    column synthesis, key location over skeleton-less files, and the COW
    rewrite of linked files against the same final-state oracle as the
    native tables."""
    wd = _workdir("tbl_bootstrap", sf)
    src = os.path.join(wd, "src")
    _cust_df(spark, sf).write.partitionBy("seg").parquet(src)
    tbl = Table.bootstrap(
        spark,
        os.path.join(wd, "tbl"),
        src,
        TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["seg"]),
        schema=CUST_SCHEMA,
    )
    boot = tbl.timeline.completed_data_instants()[0]
    n_src = sum(
        1 for _r, _d, fns in os.walk(src) for fn in fns if fn.endswith(".parquet")
    )
    boot_ok = (
        boot.meta.get("operation") == "bootstrap"
        and len(boot.files_added) == n_src
        and boot.meta.get("files_linked") == n_src
    )
    tbl.upsert(_upsert_batch(spark, sf))
    return _final_snapshot(tbl).withColumn("boot_zero_rewrite", F.lit(boot_ok))


TBL_BOOTSTRAP_ORACLE = """
SELECT c_custkey, c_name,
       round(c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0 END, 2) AS acctbal,
       c_mktsegment AS seg,
       CASE WHEN c_custkey % 7 = 0 THEN 2 ELSE 1 END AS v,
       TRUE AS boot_zero_rewrite
FROM customer
UNION ALL
SELECT c_custkey + 1000000, c_name, round(c_acctbal, 2), c_mktsegment, 2, TRUE
FROM customer WHERE c_custkey % 13 = 0
"""


def tbl_partition_stats_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-stats data skipping — Hudi 1.0 PARTITION_STATS metadata
    index (``hoodie.metadata.index.partition.stats.enable``): per-partition
    column envelopes answer the pruning question at PARTITION granularity
    before any per-file stats are consulted. The classic shape: a table
    hive-partitioned on a coarse bucket (here ``band``) queried on the
    CORRELATED fine-grained column (``ck_mod``) — exactly date-partitioned
    tables filtered on event timestamps. Per band the ``ck_mod`` envelope is
    a tight 20-wide range, so a 10-wide predicate keeps ONE of five
    partitions without touching the other partitions' file stats; at 100 TB
    that is O(partitions) metadata deciding instead of O(files).

    Lifecycle: two inserts (several files per partition), a delete (leaves
    envelopes stale-wide — conservative, never lossy), then the range scan.
    ``pstats_pruned_ok`` certifies under the driver hash that the partition
    gate engaged (partitions kept < partitions total) AND file pruning
    stayed consistent; the row set is the ordinary differential."""
    base = os.path.join(_workdir("tbl_partition_stats_prune", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "custkey BIGINT, ck_mod BIGINT, name STRING, acctbal DOUBLE, band STRING",
        TableConfig(partition_by=["band"], stats_cols=["ck_mod"]),
    )
    c = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"),
        (F.col("c_custkey") % 100).alias("ck_mod"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.concat(
            F.lit("b"), F.floor((F.col("c_custkey") % 100) / 20).cast("string")
        ).alias("band"),
    )
    tbl.insert(c.filter(F.col("custkey") % 2 == 0).repartition(3))
    t2 = Table(spark, base)
    t2.insert(c.filter(F.col("custkey") % 2 == 1).repartition(3))
    t3 = Table(spark, base)
    t3.delete_where("ck_mod = 7")  # envelopes stay [0,19] etc. — stale-wide is safe
    t4 = Table(spark, base)
    out = t4.scan([("ck_mod", ">=", 0), ("ck_mod", "<=", 9)])
    pev = getattr(t4, "last_scan_partitions", None) or {}
    fev = getattr(t4, "last_scan", None) or {}
    pruned_ok = bool(
        pev.get("kept", 99) < pev.get("total", 0)
        and fev.get("scanned", 99) < fev.get("total", 0)
    )
    return out.select(
        "custkey",
        "ck_mod",
        "name",
        F.round("acctbal", 2).alias("acctbal"),
        "band",
        F.lit(pruned_ok).alias("pstats_pruned_ok"),
    ).orderBy("custkey")


TBL_PSTATS_ORACLE = """
SELECT c_custkey AS custkey, c_custkey % 100 AS ck_mod, c_name AS name,
       round(c_acctbal, 2) AS acctbal,
       'b' || CAST(CAST(floor((c_custkey % 100) / 20) AS BIGINT) AS VARCHAR) AS band,
       TRUE AS pstats_pruned_ok
FROM customer
WHERE c_custkey % 100 <= 9 AND c_custkey % 100 <> 7
ORDER BY custkey
"""


def tbl_expression_index(spark: SparkSession, sf: str) -> DataFrame:
    """Expression (functional) index point lookup — Hudi 1.0
    ``CREATE INDEX idx ON t USING column_stats(month(ts))`` semantics
    (reference's bundled-Hudi SQL face; the engine's native machinery is
    ``Table.create_expression_index``, table/core.py). The indexed value is a
    derived expression — the order month ``substring(orderdate, 1, 7)`` —
    not any stored column, so neither key-range stats nor a plain secondary
    index can serve the predicate. The lifecycle exercises both index phases:
    a backfill build over three bulk loads, then an index-MAINTAINING upsert
    commit (new rows in a fresh month) that must be visible through the same
    index without a rebuild.

    Pruning shape: the index resolves the month to its record keys (bounded
    metadata: month cardinality × keys), and the per-file BLOOM sidecars
    collapse the file set to the file groups actually holding those keys —
    O(matching file groups) IO however many files the table has.
    ``expr_pruned_ok`` certifies under the driver hash that the lookup
    scanned strictly fewer files than the table holds."""
    base = os.path.join(_workdir("tbl_expression_index", sf), "tbl")
    tbl = Table.create(
        spark,
        base,
        "id STRING, orderkey BIGINT, orderdate STRING, totalprice DOUBLE, v INT",
        TableConfig(record_key=["id"], precombine="v", bloom_index=True),
    )
    o = t(spark, sf, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("id"),
        F.col("o_orderkey").alias("orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.lit(1).alias("v"),
    )
    n = o.count()
    for m in range(3):  # thirds by orderkey: three disjoint file groups
        tbl.bulk_insert(o.filter(F.floor((F.col("orderkey") - 1) * 3 / n) == m))
    tbl.create_expression_index("order_month", "substring(orderdate, 1, 7)")
    # index-maintaining commit: NEW keys in a month the corpus never saw —
    # proves post-build commits flow into the index (and land in their own
    # file group, keeping >1 group for the prune to discard)
    tbl.upsert(
        o.filter(F.col("orderkey") % 97 == 0).withColumns(
            {
                "id": F.md5((F.col("orderkey") + 10_000_000).cast("string")),
                "orderkey": F.col("orderkey") + 10_000_000,
                "orderdate": F.concat(F.lit("2003-01-"), F.substring("orderdate", 9, 2)),
                "v": F.lit(2),
            }
        )
    )
    hits = tbl.lookup_indexed("order_month", "2003-01")
    ev = getattr(tbl, "last_index_lookup", None) or {}
    pruned_ok = bool(ev.get("scanned", 0) < ev.get("total", 0))
    return hits.select(
        "id",
        "orderkey",
        "orderdate",
        "totalprice",
        "v",
        F.lit(pruned_ok).alias("expr_pruned_ok"),
    ).orderBy("orderkey")


TBL_EXPR_INDEX_ORACLE = """
SELECT md5(CAST(o_orderkey + 10000000 AS VARCHAR)) AS id,
       o_orderkey + 10000000 AS orderkey,
       '2003-01-' || strftime(o_orderdate, '%d') AS orderdate,
       round(o_totalprice, 2) AS totalprice,
       2 AS v,
       TRUE AS expr_pruned_ok
FROM orders
WHERE o_orderkey % 97 = 0
ORDER BY orderkey
"""


SPECS: list[QuerySpec] = [
    QuerySpec("tbl_upsert_cow", tbl_upsert_cow, UPSERT_FINAL_ORACLE, "M1,M2,M7"),
    QuerySpec("tbl_upsert_mor", tbl_upsert_mor, UPSERT_FINAL_ORACLE, "M7,MOR"),
    QuerySpec("tbl_upsert_mor_compacted", tbl_upsert_mor_compacted, UPSERT_FINAL_ORACLE, "M14"),
    QuerySpec("tbl_delete_where", tbl_delete_where, TBL_DELETE_ORACLE, "M4,M9"),
    QuerySpec("tbl_merge_mixed", tbl_merge_mixed, TBL_MERGE_ORACLE, "M5,J2,J3"),
    QuerySpec("tbl_time_travel", tbl_time_travel, TBL_TT_ORACLE, "M10"),
    QuerySpec("tbl_incremental", tbl_incremental, TBL_INC_ORACLE, "M11"),
    QuerySpec("tbl_cdc_rollback", tbl_cdc_rollback, TBL_TT_ORACLE, "M13,M17"),
    QuerySpec("tbl_cdc_query", tbl_cdc_query, TBL_CDC_ORACLE, "M11,M13 CDC images"),
    QuerySpec("tbl_scan_pruned", tbl_scan_pruned, TBL_SCAN_ORACLE, "col-stats data skipping"),
    QuerySpec(
        "tbl_partition_stats_prune",
        tbl_partition_stats_prune,
        TBL_PSTATS_ORACLE,
        "Hudi 1.0 PARTITION_STATS index: partition-granularity data skipping",
    ),
    QuerySpec(
        "tbl_zorder_prune",
        tbl_zorder_prune,
        TBL_ZORDER_ORACLE,
        "M15+ z-order layout: file pruning on every clustered dimension",
    ),
    QuerySpec("tbl_rollup_incremental", tbl_rollup_incremental, TBL_ROLLUP_ORACLE, "incremental rollup (CDC IVM)"),
    QuerySpec("tbl_join_view_incremental", tbl_join_view_incremental, TBL_JOIN_VIEW_ORACLE, "incremental join view (CDC IVM)"),
    QuerySpec("tbl_batch_schedule", tbl_batch_schedule, TBL_BATCH_SCHEDULE_ORACLE, "reference compat schedule: M2,M7,M9,M14,M17"),
    QuerySpec("tbl_savepoint_restore", tbl_savepoint_restore, TBL_SAVEPOINT_ORACLE, "M16/M17 savepoint+restore"),
    QuerySpec("tbl_schema_evolution", tbl_schema_evolution, TBL_SCHEMA_EVOLUTION_ORACLE, "M18+ add/auto/rename/drop lifecycle"),
    QuerySpec("tbl_bloom_upsert", tbl_bloom_upsert, TBL_BLOOM_ORACLE, "J4 BLOOM index + file-group-scoped COW rewrite"),
    QuerySpec("tbl_secondary_lookup", tbl_secondary_lookup, TBL_SECONDARY_ORACLE, "Hudi 1.0 secondary index point lookup"),
    QuerySpec(
        "tbl_expression_index",
        tbl_expression_index,
        TBL_EXPR_INDEX_ORACLE,
        "Hudi 1.0 expression (functional) index: derived-value lookup + maintenance",
    ),
    QuerySpec("tbl_partial_update", tbl_partial_update, TBL_PARTIAL_ORACLE, "Hudi 1.0 MOR partial update payloads"),
    QuerySpec(
        "tbl_run_services",
        tbl_run_services,
        TBL_RUN_SERVICES_ORACLE,
        "M14+ services pass: recompact + rollback-invalidated index rebuild + lookup parity",
    ),
    QuerySpec(
        "tbl_async_compaction",
        tbl_async_compaction,
        TBL_ASYNC_COMPACTION_ORACLE,
        "M14+ async compaction: schedule/execute split, post-plan logs survive",
    ),
    QuerySpec(
        "tbl_log_compaction",
        tbl_log_compaction,
        TBL_LOG_COMPACTION_ORACLE,
        "Hudi 1.0 log compaction: stitch small logs, no base rewrite",
    ),
    QuerySpec(
        "tbl_async_clustering",
        tbl_async_clustering,
        TBL_ASYNC_CLUSTERING_ORACLE,
        "M15+ async clustering: schedule/execute split, commit-preserving copy",
    ),
    QuerySpec(
        "tbl_record_index",
        tbl_record_index,
        TBL_RECORD_INDEX_ORACLE,
        "Hudi 1.0 record-level index: exact key→file write planning",
    ),
    QuerySpec(
        "tbl_metadata_tvf",
        tbl_metadata_tvf,
        TBL_METADATA_ORACLE,
        "Hudi 1.0 hudi_metadata() TVF: files/partitions/column_stats/record_index",
    ),
    QuerySpec(
        "tbl_partition_lifecycle",
        tbl_partition_lifecycle,
        TBL_PARTITION_LIFECYCLE_ORACLE,
        "Hudi delete_partition: metadata-only drop + time-travel retention",
    ),
    QuerySpec(
        "tbl_bootstrap",
        tbl_bootstrap,
        TBL_BOOTSTRAP_ORACLE,
        "Hudi bootstrap METADATA_ONLY: zero-rewrite onboarding + lifecycle over linked files",
    ),
]


# ------------------------------------------------------------- bench phases

def _cdc_pruned_build(spark: SparkSession, sf: str):
    """Bench fixture for the O(changes) CDC path: a 48-file range-partitioned
    table where one upsert touches only 2 partitions, so files >> changes and
    the key-range prune actually engages (the standard sf lifecycle sits below
    ``CDC_PRUNE_MIN_FILES`` and always takes the two-snapshot fast path, so
    without this fixture the bench never exercises the scale path)."""
    from pyspark.sql.window import Window

    base = os.path.join(_workdir("bench_cdc_pruned", sf), "tbl")
    c = _cust_df(spark, sf)
    n_parts = 48
    # contiguous STRING-ordered key ranges per partition: the record key (and
    # its footer min/max stats) is a string, so buckets cut on numeric order
    # would have overlapping string ranges and defeat the prune. ntile over
    # the string order gives disjoint per-file ranges — fixture-build only
    # (the single-partition window never appears in a measured op).
    w = Window.orderBy(F.col("c_custkey").cast("string"))
    d = c.withColumn("pt", F.ntile(n_parts).over(w) - 1)
    tbl = Table.create(
        spark,
        base,
        "c_custkey BIGINT, c_name STRING, acctbal DOUBLE, seg STRING, v INT, pt INT",
        TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["pt"]),
    )
    tbl.insert(d)
    t0 = tbl.latest_instant()
    batch = (
        d.filter(F.col("pt") < 2)
        .withColumn("acctbal", F.col("acctbal") + 100.0)
        .withColumn("v", F.lit(2))
    )
    tbl.upsert(batch)
    # force the scale path: at sf bench sizes the byte-aware cutover would
    # (correctly) pick two snapshot reads; this fixture exists to measure and
    # counter-prove the O(changes) plan the engine uses once files carry data
    tbl.CDC_PRUNE_MIN_BYTES = 0
    return tbl, t0


def bench_phases():
    """Bench-only ``{name: (build, op)}`` split of the lifecycle queries:
    ``build(spark, sf) -> state`` constructs the fixture table (create +
    initial load + change commits), ``op(spark, sf, state) -> DataFrame`` is
    the measured operation (the write or read path being optimized). The
    registry SPECS stay single-callable for the driver's correctness gate;
    the bench uses this split so the headline per-phase numbers track the
    operation, not fixture construction."""

    def upsert_build(name, ttype):
        def build(spark, sf):
            return _lifecycle_table(spark, sf, name, ttype)

        return build

    def upsert_op(spark, sf, tbl):
        tbl.upsert(_upsert_batch(spark, sf))
        return _final_snapshot(tbl)

    def cdc_build(spark, sf):
        tbl = _lifecycle_table(spark, sf, "tbl_cdc_query", "cow")
        first = tbl.latest_instant()
        tbl.upsert(_upsert_batch(spark, sf))
        tbl.delete_where("c_custkey % 11 = 0")
        return (tbl, first)

    def cdc_op(spark, sf, st):
        tbl, first = st
        cdc = tbl.table_changes_cdc(start=first)
        return cdc.select(
            F.col("key").cast("bigint").alias("c_custkey"),
            "op",
            F.round(F.col("before.acctbal"), 2).alias("before_bal"),
            F.round(F.col("after.acctbal"), 2).alias("after_bal"),
            F.col("before.v").alias("before_v"),
            F.col("after.v").alias("after_v"),
        ).orderBy("op", "c_custkey")

    def cdc_pruned_op(spark, sf, st):
        tbl, t0 = st
        return tbl.table_changes_cdc(start=t0).select("key", "op", "commit_time")

    def cluster_inc_build(spark, sf):
        """Fixture for incremental clustering: a sort-clustered partitioned
        table where one upsert churns a single partition — the re-cluster op
        must rewrite only that partition (file-count evidence lands in the
        bench extras as ``cluster_incremental``)."""
        base = os.path.join(_workdir("bench_cluster_inc", sf), "tbl")
        tbl = Table.create(
            spark,
            base,
            CUST_SCHEMA,
            TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["seg"]),
        )
        tbl.insert(_cust_df(spark, sf))
        tbl.cluster_sort(["c_custkey"], n_files=8)
        churn = (
            _cust_df(spark, sf)
            .filter(F.col("seg") == "BUILDING")
            .limit(200)
            .withColumn("acctbal", F.col("acctbal") + 1.0)
            .withColumn("v", F.lit(2))
        )
        tbl.upsert(churn)
        return tbl

    def cluster_inc_op(spark, sf, tbl):
        inst = tbl.cluster_sort(["c_custkey"], n_files=8)
        meta = next(
            i.meta for i in tbl.timeline.completed_data_instants() if i.instant == inst
        )
        n_parts = len({tbl._partition_path_of(r) for r in tbl.timeline.live_files()[0]})
        tbl.last_cluster_meta = {
            "partitions_total": n_parts,
            "partitions_rewritten": meta.get("numPartitionsRewritten"),
        }
        return spark.createDataFrame(
            [(inst, meta.get("numPartitionsRewritten"))], "instant STRING, parts_rewritten INT"
        )

    def point_lookup_build(spark, sf):
        """Fixture for the secondary-index point read: the tbl_secondary_lookup
        layout (3 clustered bulk loads + phone index + maintaining upsert)."""
        import hashlib

        base = os.path.join(_workdir("bench_point_lookup", sf), "tbl")
        tbl = Table.create(
            spark,
            base,
            "name STRING, custkey BIGINT, phone STRING, acctbal DOUBLE, v INT",
            TableConfig(record_key=["name"], precombine="v", bloom_index=True),
        )
        c = t(spark, sf, "customer").select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.md5(F.concat(F.lit("ph"), F.col("c_custkey").cast("string"))).alias("phone"),
            F.col("c_acctbal").alias("acctbal"),
            F.lit(1).alias("v"),
        )
        n = c.count()
        for m in range(3):
            tbl.bulk_insert(c.filter(F.floor((F.col("custkey") - 1) * 3 / n) == m))
        tbl.create_secondary_index("phone")
        return (tbl, hashlib.md5(b"ph7").hexdigest())

    def point_lookup_op(spark, sf, st):
        tbl, target = st
        out = tbl.lookup("phone", target)
        return out.select("name", "custkey", "phone")

    def rli_lookup_build(spark, sf):
        """Fixture for the record-index point read: three bulk loads of
        md5-keyed rows (uniform-random keys — range pruning blind) plus
        ``create_record_index``; the op is a key point read that must touch
        only the holder file."""
        import hashlib

        base = os.path.join(_workdir("bench_rli_lookup", sf), "tbl")
        tbl = Table.create(
            spark,
            base,
            "id STRING, custkey BIGINT, acctbal DOUBLE, v INT",
            TableConfig(record_key=["id"], precombine="v"),
        )
        c = t(spark, sf, "customer").select(
            F.md5(F.col("c_custkey").cast("string")).alias("id"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.lit(1).alias("v"),
        )
        for m in range(3):
            tbl.bulk_insert(c.filter(F.col("custkey") % 3 == m))
        tbl.create_record_index()
        return (tbl, hashlib.md5(b"7").hexdigest())

    def rli_lookup_op(spark, sf, st):
        tbl, target = st
        return tbl.lookup_key(target).select("id", "custkey", "acctbal")

    def bootstrap_build(spark, sf):
        """Fixture for the bootstrap evidence row: stage the SAME customer
        dataset ``tbl_upsert_cow``'s build inserts natively, as plain
        spark-written partitioned parquet. The op then onboards it
        METADATA_ONLY — so ``phases.tbl_bootstrap_onboard.op`` vs
        ``phases.tbl_upsert_cow.build`` is a direct zero-rewrite-vs-rewrite
        comparison on identical data."""
        wd = _workdir("bench_bootstrap", sf)
        src = os.path.join(wd, "src")
        _cust_df(spark, sf).write.partitionBy("seg").parquet(src)
        return {"wd": wd, "src": src}

    def bootstrap_op(spark, sf, st):
        base = os.path.join(st["wd"], "tbl")
        if Table.exists(base):
            shutil.rmtree(base)  # later passes re-onboard from scratch
        tbl = Table.bootstrap(
            spark,
            base,
            st["src"],
            TableConfig(record_key=["c_custkey"], precombine="v", partition_by=["seg"]),
            schema=CUST_SCHEMA,
        )
        boot = tbl.timeline.completed_data_instants()[0]
        st["evidence"] = {
            "n_files": len(boot.files_added),
            "files_linked": boot.meta.get("files_linked", 0),
        }
        # return bounded planning metadata, NOT a table scan — the op being
        # measured is onboarding, and a noop-write of read() would drown it
        return spark.createDataFrame(
            [(len(boot.files_added), boot.meta.get("files_linked", 0))],
            "n_files INT, n_linked INT",
        )

    def zorder_build(spark, sf):
        """Fixture for the multi-dim layout evidence row: 16 unsorted
        lineitem files with per-file stats on both dimensions."""
        base = os.path.join(_workdir("bench_zorder", sf), "tbl")
        tbl = Table.create(
            spark,
            base,
            "l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE",
            TableConfig(stats_cols=["l_orderkey", "l_suppkey"]),
        )
        li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
        tbl.insert(li.repartition(16))
        return tbl

    def zorder_op(spark, sf, tbl):
        """Measured op: the z-order rewrite itself; evidence: a narrow scan
        on EACH dimension afterwards, recording files scanned vs total —
        the multi-dim data-skipping win a linear sort can't give."""
        tbl.cluster_zorder(["l_orderkey", "l_suppkey"], n_files=16)
        s1 = tbl.scan([("l_orderkey", ">=", 100), ("l_orderkey", "<=", 400)])
        d1 = dict(tbl.last_scan)
        s2 = tbl.scan([("l_suppkey", ">=", 1), ("l_suppkey", "<=", 3)])
        d2 = dict(tbl.last_scan)
        tbl.bench_zorder_evidence = {
            "total_files": d1.get("total", 0),
            "dim1_scanned": d1.get("scanned", 0),
            "dim2_scanned": d2.get("scanned", 0),
        }
        return s1.select("l_orderkey").union(s2.select("l_suppkey"))

    def pstats_build(spark, sf):
        """Fixture for the partition-stats gate evidence row: the
        tbl_partition_stats_prune layout (hive-partitioned on a coarse band,
        per-partition envelopes on the correlated fine column)."""
        base = os.path.join(_workdir("bench_pstats", sf), "tbl")
        tbl = Table.create(
            spark,
            base,
            "custkey BIGINT, ck_mod BIGINT, acctbal DOUBLE, band STRING",
            TableConfig(partition_by=["band"], stats_cols=["ck_mod"]),
        )
        c = t(spark, sf, "customer").select(
            F.col("c_custkey").alias("custkey"),
            (F.col("c_custkey") % 100).alias("ck_mod"),
            F.col("c_acctbal").alias("acctbal"),
            F.concat(
                F.lit("b"), F.floor((F.col("c_custkey") % 100) / 20).cast("string")
            ).alias("band"),
        )
        tbl.insert(c.repartition(3))
        return Table(spark, base)

    def pstats_op(spark, sf, tbl):
        """Measured op: the partition-gated range scan; evidence: partitions
        kept vs total (the O(partitions) decision) AND files scanned vs
        total (the per-file stats only consulted inside kept partitions)."""
        out = tbl.scan([("ck_mod", ">=", 0), ("ck_mod", "<=", 9)])
        # Hard-assert the gate actually engaged (advisor r8): Table.scan sets
        # last_scan_partitions to None when the partition-stats gate does NOT
        # consult envelopes, and a `or {}` fallback would publish an empty
        # evidence dict instead of failing — silently un-proving the
        # O(partitions) claim the bench artifact exists to record.
        pev = tbl.last_scan_partitions
        assert pev is not None, "partition-stats gate did not engage on bench fixture"
        assert pev.get("kept", 99) < pev.get("total", 0), f"no partitions pruned: {pev}"
        tbl.bench_pstats_evidence = {
            "partitions": dict(pev),
            "files": dict(getattr(tbl, "last_scan", None) or {}),
        }
        return out.select("custkey", "ck_mod")

    def expr_lookup_build(spark, sf):
        """Fixture for the expression-index evidence row: the
        tbl_expression_index layout (3 bulk loads, functional index on the
        derived order month, one index-maintaining upsert)."""
        base = os.path.join(_workdir("bench_expr_lookup", sf), "tbl")
        tbl = Table.create(
            spark,
            base,
            "id STRING, orderkey BIGINT, orderdate STRING, totalprice DOUBLE, v INT",
            TableConfig(record_key=["id"], precombine="v", bloom_index=True),
        )
        o = t(spark, sf, "orders").select(
            F.md5(F.col("o_orderkey").cast("string")).alias("id"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.lit(1).alias("v"),
        )
        n = o.count()
        for m in range(3):
            tbl.bulk_insert(o.filter(F.floor((F.col("orderkey") - 1) * 3 / n) == m))
        tbl.create_expression_index("order_month", "substring(orderdate, 1, 7)")
        tbl.upsert(
            o.filter(F.col("orderkey") % 97 == 0).withColumns(
                {
                    "id": F.md5((F.col("orderkey") + 10_000_000).cast("string")),
                    "orderkey": F.col("orderkey") + 10_000_000,
                    "orderdate": F.concat(
                        F.lit("2003-01-"), F.substring("orderdate", 9, 2)
                    ),
                    "v": F.lit(2),
                }
            )
        )
        return tbl

    def expr_lookup_op(spark, sf, tbl):
        """Measured op: the functional-index point read (must scan only the
        file groups holding the month's keys — evidence via
        ``last_index_lookup``)."""
        return tbl.lookup_indexed("order_month", "2003-01").select("id", "orderkey")

    return {
        "tbl_upsert_cow": (upsert_build("tbl_upsert_cow", "cow"), upsert_op),
        "tbl_upsert_mor": (upsert_build("tbl_upsert_mor", "mor"), upsert_op),
        "tbl_cdc_query": (cdc_build, cdc_op),
        "tbl_cdc_query_pruned": (_cdc_pruned_build, cdc_pruned_op),
        "tbl_cluster_incremental": (cluster_inc_build, cluster_inc_op),
        "tbl_point_lookup": (point_lookup_build, point_lookup_op),
        "tbl_rli_lookup": (rli_lookup_build, rli_lookup_op),
        "tbl_bootstrap_onboard": (bootstrap_build, bootstrap_op),
        "tbl_zorder_layout": (zorder_build, zorder_op),
        "tbl_pstats_scan": (pstats_build, pstats_op),
        "tbl_expr_lookup": (expr_lookup_build, expr_lookup_op),
    }
