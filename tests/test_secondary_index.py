"""Secondary index (Hudi 1.0): (value → record key) mapping for non-key columns.

An equality lookup on an indexed column resolves to candidate record keys via
the index, then rides the key range/bloom indexes to a pruned file read —
O(matching file groups), not O(table). The index is maintained as a complete
SUPERSET (appends on every data commit, stale entries filtered by the lookup's
predicate re-apply, compacted by rebuild_index), so results must always equal
a plain filter while the IO evidence (``last_index_lookup``) shows pruning.

Reference anchor: Hudi 1.0 secondary indexes / the async metadata indexer
(hoodie.metadata.index.* — public Hudi docs); the reference repo's tables rely
on key-based indexes only, so this is the non-key extension of J4.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "id STRING, cat STRING, v BIGINT"


def _df(spark, lo: int, hi: int, v0: int = 0, cat=None):
    rows = [(f"k{i:05d}", cat or f"c{i // 100}", v0 + i) for i in range(lo, hi)]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def indexed_table(spark, tmp_path):
    tbl = Table.create(
        spark, str(tmp_path / "t"), SCHEMA, TableConfig(record_key=["id"], precombine="v")
    )
    # three bulk loads with disjoint key/cat ranges -> cat values cluster per file
    for b in range(3):
        tbl.bulk_insert(_df(spark, b * 500, (b + 1) * 500))
    tbl.create_secondary_index("cat")
    return tbl


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _jobs(spark, fn):
    """Stage counts of the Spark jobs ``fn`` launched, and its result."""
    sc = spark.sparkContext
    group = f"secondary-index-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lookup")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    return [len(st.getJobInfo(j).stageIds) for j in sorted(st.getJobIdsForGroup(group))], out


def test_lookup_equals_filter_and_prunes(indexed_table):
    got = indexed_table.lookup("cat", "c7")  # keys 700..799: one load's range
    want = indexed_table.read().filter(F.col("cat") == "c7")
    assert _rows(got) == _rows(want)
    ev = indexed_table.last_index_lookup
    assert ev["pruned"] >= 1 and ev["scanned"] < ev["total"]


def test_lookup_missing_value_is_empty(indexed_table):
    assert indexed_table.lookup("cat", "nope").count() == 0


def test_index_maintained_by_upsert(spark, indexed_table):
    indexed_table.upsert(_df(spark, 2000, 2020, cat="fresh"))
    got = indexed_table.lookup("cat", "fresh")
    assert got.count() == 20
    assert {r["cat"] for r in got.collect()} == {"fresh"}


def test_value_update_moves_lookup(spark, indexed_table):
    # move one row from c3 to moved: stale (c3 -> key) entry must be filtered
    indexed_table.upsert(
        spark.createDataFrame([("k00300", "moved", 99999)], SCHEMA)
    )
    assert indexed_table.lookup("cat", "moved").count() == 1
    old = indexed_table.lookup("cat", "c3")
    assert "k00300" not in {r["id"] for r in old.collect()}
    assert old.count() == 99


def test_rebuild_compacts_superset(spark, indexed_table):
    for i in range(3):  # churn: every pass appends fresh mappings
        indexed_table.upsert(_df(spark, 0, 100, v0=10000 * (i + 1)))
    before = indexed_table._read_index_entries("cat").count()
    indexed_table.rebuild_index("cat")
    # rebuild swaps to a NEW generation dir via an atomic meta replace (the
    # old one stays for in-flight readers until heal sweeps it, age-gated)
    after = indexed_table._read_index_entries("cat").count()
    assert after < before
    assert after == indexed_table.read().count()  # exact mapping again
    got = indexed_table.lookup("cat", "c0")
    assert got.count() == 100


def test_delete_leaves_correct_lookup(spark, indexed_table):
    indexed_table.delete(spark.createDataFrame([("k00705",)], "id STRING"))
    got = indexed_table.lookup("cat", "c7")
    assert got.count() == 99
    assert "k00705" not in {r["id"] for r in got.collect()}


def test_mor_pending_logs(spark, tmp_path):
    tbl = Table.create(
        spark,
        str(tmp_path / "mor"),
        SCHEMA,
        TableConfig(record_key=["id"], precombine="v", table_type="mor"),
    )
    tbl.bulk_insert(_df(spark, 0, 400))
    tbl.create_secondary_index("cat")
    tbl.upsert(_df(spark, 100, 110, v0=50000, cat="hot"))  # pending delta log
    got = tbl.lookup("cat", "hot")
    assert got.count() == 10
    # superseded base versions of the moved keys must not reappear
    assert tbl.lookup("cat", "c1").count() == 90


def test_mor_lookup_locates_index_and_log_keys_in_one_collect(spark, tmp_path):
    """With live logs, the index's keys and the log keys are located over
    the base files in one collect: the candidates two separate locations
    give, the same rows, and two Spark jobs (the value index's schema
    inference and the locator's collect) where two locations took three."""
    tbl = Table.create(
        spark,
        str(tmp_path / "mor"),
        SCHEMA,
        TableConfig(record_key=["id"], precombine="v", table_type="mor"),
    )
    tbl.bulk_insert(_df(spark, 0, 400))
    tbl.create_secondary_index("cat")
    tbl.upsert(_df(spark, 100, 110, v0=50000, cat="hot"))
    files = tbl.timeline.live_files()[0]
    logs = {r for r, (_, a) in files.items() if a == "deltacommit"}
    base = sorted(set(files) - logs)
    assert logs
    for value in ("hot", "c2", "nope"):
        jobs, got = _jobs(spark, lambda: tbl.lookup("cat", value))
        assert len(jobs) <= 2, (value, jobs)
        assert _rows(got) == _rows(tbl.read().filter(F.col("cat") == value))
        ev = tbl.last_index_lookup
        keys = (
            tbl._read_index_entries("cat")
            .filter(F.col("val") == value)
            .select(F.col("key").alias("_hoodie_record_key"))
        )
        first = set(tbl._locate_keys(base, keys)[1])
        log_keys = tbl._read_files(sorted(logs), with_deleted=True).select("_hoodie_record_key")
        second = tbl._locate_keys([r for r in base if r not in first], log_keys)[1]
        scanned = len(first | set(second) | logs)
        assert ev == {"total": len(files), "scanned": scanned, "pruned": len(files) - scanned}


def test_absent_value_lookup_reads_no_file(spark, tmp_path):
    """An absent value locates no candidate file and answers with an empty
    frame of the read schema: no read of the live files, whose listing
    alone is a Spark job past 32 files."""
    tbl = Table.create(
        spark, str(tmp_path / "t"), SCHEMA, TableConfig(record_key=["id"], precombine="v")
    )
    tbl.bulk_insert(_df(spark, 0, 400).repartition(40))
    tbl.create_secondary_index("cat")
    n = len(tbl.timeline.live_files()[0])
    assert n > 32
    jobs, got = _jobs(spark, lambda: tbl.lookup("cat", "nope"))
    # the value index's schema inference and the locator's collect
    assert len(jobs) <= 2, jobs
    assert tbl.last_index_lookup == {"total": n, "scanned": 0, "pruned": n}
    assert got.schema == tbl.read().schema and got.count() == 0


def test_unindexed_column_falls_back_to_scan(indexed_table):
    got = indexed_table.lookup("v", 42)
    want = indexed_table.read().filter(F.col("v") == 42)
    assert _rows(got) == _rows(want)


def test_drop_index(indexed_table):
    assert indexed_table.secondary_index_cols() == ["cat"]
    indexed_table.drop_index("cat")
    assert indexed_table.secondary_index_cols() == []
    assert indexed_table.lookup("cat", "c7").count() == 100  # scan fallback


def test_expression_index_lookup(spark, tmp_path):
    """Hudi 1.0 expression (functional) index: the indexed value is a SQL
    expression over the row — lookups answer WHERE expr = v via the index."""
    tbl = Table.create(
        spark, str(tmp_path / "t"), SCHEMA, TableConfig(record_key=["id"], precombine="v")
    )
    for b in range(3):
        tbl.bulk_insert(_df(spark, b * 300, (b + 1) * 300))
    tbl.create_expression_index("cat_upper", "upper(cat)")
    got = tbl.lookup_indexed("cat_upper", "C4")
    want = tbl.read().filter(F.expr("upper(cat)") == "C4")
    assert _rows(got) == _rows(want)
    assert got.count() == 100
    ev = tbl.last_index_lookup
    assert ev["pruned"] >= 1
    # maintained by later commits like any index
    tbl.upsert(_df(spark, 5000, 5010, cat="zz"))
    assert tbl.lookup_indexed("cat_upper", "ZZ").count() == 10


def test_expression_index_bad_name_rejected(spark, tmp_path):
    tbl = Table.create(
        spark, str(tmp_path / "t2"), SCHEMA, TableConfig(record_key=["id"])
    )
    tbl.bulk_insert(_df(spark, 0, 10))
    with pytest.raises(ValueError):
        tbl.create_expression_index("../escape", "cat")


def test_scan_routes_equality_through_index(spark, indexed_table):
    """A current-snapshot scan with an equality predicate on an indexed column
    rides the index (exact candidates) and re-applies the other predicates."""
    got = indexed_table.scan([("cat", "=", "c7"), ("v", ">=", 750)])
    want = indexed_table.read().filter("cat = 'c7' AND v >= 750")
    assert _rows(got) == _rows(want)
    ev = indexed_table.last_scan
    assert ev["pruned"] >= 1 and ev["scanned"] < ev["total"]
    # time travel never routes through the index (historical completeness)
    t0 = indexed_table.latest_instant()
    asof = indexed_table.scan([("cat", "=", "c7")], as_of=t0)
    assert _rows(asof) == _rows(indexed_table.read(as_of=t0).filter("cat = 'c7'"))
