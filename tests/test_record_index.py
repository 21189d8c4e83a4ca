"""Record-level index (Hudi 1.0 RLI): exact (key → file) location for keyed
writes. Contract under test: probes are EXACT on live files (candidates =
true holder set — a lossy prune would be a lost update, so exactness is the
whole game), every file-adding commit maintains the mapping (COW rewrites,
MOR logs, compaction, clustering), rollback invalidates (resurrected files
may predate the index), run_services re-certifies, and results always equal
a no-index replay.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "k BIGINT, val DOUBLE, seg STRING, v INT"


def _batch(spark, b, lo=0, hi=300):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5 + b).alias("val"),
        F.concat(F.lit("s"), F.col("id") % 3).alias("seg"),
        F.lit(b + 1).alias("v"),
    )


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("string").alias("_hoodie_record_key")
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"]),
    )
    t.insert(_batch(spark, 0, 0, 300))
    t.insert(_batch(spark, 0, 300, 600))
    t.create_record_index()
    return t


def _located(t, live, keys_df):
    """The key locator's candidates, asserted to come from the record index."""
    cand = t._locate_keys(live, keys_df)[1]
    assert t.last_key_prune.get("record_index") is True
    return cand


def test_probe_is_exact_on_live_files(spark, tbl):
    """Candidates from the index == files that truly hold the probed keys."""
    live = sorted(tbl.timeline.live_files()[0])
    cand = _located(tbl, live, _keys(spark, 10, 20))
    truth = set()
    for r in live:
        ks = {
            int(row["_hoodie_record_key"])
            for row in tbl._read_files([r], with_deleted=True)
            .select("_hoodie_record_key")
            .collect()
        }
        if ks & set(range(10, 20)):
            truth.add(r)
    assert set(cand) == truth and truth  # exact, and non-trivially so

    # absent keys resolve to zero candidates — a pure-insert batch plans to
    # NO rewrites, the property range pruning can't give for random keys
    assert _located(tbl, live, _keys(spark, 10_000, 10_050)) == []


def test_upsert_plans_through_rli_and_matches_replay(spark, tbl, tmp_path):
    t2 = Table(spark, tbl.base)
    t2.upsert(_batch(spark, 1, 0, 50))
    assert t2.last_key_prune.get("record_index") is True
    t3 = Table(spark, tbl.base)
    t3.delete(spark.range(10, 20).select(F.col("id").alias("k")))
    assert t3.last_key_prune.get("record_index") is True

    seq = Table.create(
        spark,
        str(tmp_path / "seq"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"]),
    )
    seq.insert(_batch(spark, 0, 0, 300))
    seq.insert(_batch(spark, 0, 300, 600))
    seq.upsert(_batch(spark, 1, 0, 50))
    seq.delete(spark.range(10, 20).select(F.col("id").alias("k")))
    got = sorted(map(tuple, Table(spark, tbl.base).read().collect()))
    want = sorted(map(tuple, seq.read().collect()))
    assert got == want and len(got) == 590


def test_partition_move_under_rli(spark, tbl):
    """A partition-changing upsert MOVES the record (global-index contract):
    the RLI locates the old-partition holder file with no location scan."""
    mv = spark.range(5).select(
        F.col("k") if False else F.col("id").alias("k"),
        F.lit(9.0).alias("val"),
        F.lit("sX").alias("seg"),
        F.lit(5).alias("v"),
    )
    t2 = Table(spark, tbl.base)
    t2.upsert(mv)
    rows = Table(spark, tbl.base).read().filter(F.col("k") < 5).collect()
    assert len(rows) == 5 and {r["seg"] for r in rows} == {"sX"}


def test_mor_logs_and_compaction_stay_complete(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "mor"),
        "k BIGINT, val DOUBLE, v INT",
        TableConfig(record_key=["k"], precombine="v", table_type="mor"),
    )
    t.insert(
        spark.range(200).select(
            F.col("id").alias("k"), F.lit(1.0).alias("val"), F.lit(1).alias("v")
        )
    )
    t.create_record_index()
    for b in range(2, 5):
        Table(spark, t.base).upsert(
            spark.range(50).select(
                F.col("id").alias("k"),
                F.lit(float(b)).alias("val"),
                F.lit(b).alias("v"),
            )
        )
    m = Table(spark, t.base)
    m.compact()
    # post-compaction the mapping must cover the NEW base files (the
    # replace-commit maintenance — (value→key) indexes never need this,
    # a (key→file) index cannot skip it)
    m2 = Table(spark, t.base)
    live = sorted(m2.timeline.live_files()[0])
    cand = _located(m2, live, _keys(spark, 0, 5))
    assert cand, "compacted base files missing from the record index"
    for r in cand:
        assert r in set(live)
    rows = sorted(map(tuple, m2.read().filter(F.col("k") < 3).collect()))
    assert rows == [(i, 4.0, 4) for i in range(3)]


def test_rebuild_compacts_superset(spark, tbl):
    for b in range(1, 4):
        Table(spark, tbl.base).upsert(_batch(spark, b, 0, 100))
    t = Table(spark, tbl.base)
    before = t._footer_rows(t._index_parquet_files(t._index_data_dir("record_index")))
    t.rebuild_index("record_index")
    t2 = Table(spark, tbl.base)
    after = t2._footer_rows(t2._index_parquet_files(t2._index_data_dir("record_index")))
    assert after == 600 < before  # exact live mapping, one entry per live row
    meta = t2._index_meta("record_index")
    assert meta["gen"] == 1 and meta["valid"] is True
    # old generation swept age-gated, never eagerly
    gen0 = os.path.join(t2.base, t2.RECORD_INDEX_DIR, "data")
    assert os.path.isdir(gen0)
    t2.heal(min_age_seconds=0.0)  # still age-gated by LOCK_TTL for gens
    assert os.path.isdir(gen0)


def test_lookup_key_point_read_and_scan_routing(spark, tbl):
    """RLI read path: a point read by record key scans only the holder
    files, and scan()'s key-equality routing uses it (with the remaining
    predicates re-applied). Invalid index → silent fallback, same rows."""
    t = Table(spark, tbl.base)
    rows = t.lookup_key(7).collect()
    assert [r["k"] for r in rows] == [7]
    ev = t.last_record_lookup
    assert 0 < ev["scanned"] < ev["total"]

    # absent key: zero files read, empty frame with the table schema
    assert t.lookup_key(10_000_000).count() == 0
    assert t.last_record_lookup["scanned"] == 0

    # scan() routes key equality through the index and re-applies the rest
    out = t.scan([("k", "=", 7), ("v", ">=", 1)])
    assert [r["k"] for r in out.collect()] == [7]
    assert t.last_scan == ev

    # MOR: the merge window still sees log versions (entries cover logs)
    mt = Table.create(
        spark,
        tbl.base + "_mor",
        "k BIGINT, val DOUBLE, v INT",
        TableConfig(record_key=["k"], precombine="v", table_type="mor"),
    )
    mt.insert(
        spark.range(100).select(
            F.col("id").alias("k"), F.lit(1.0).alias("val"), F.lit(1).alias("v")
        )
    )
    mt.create_record_index()
    Table(spark, mt.base).upsert(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(9.0).alias("val"), F.lit(2).alias("v")
        )
    )
    m2 = Table(spark, mt.base)
    assert [(r["val"], r["v"]) for r in m2.lookup_key(3).collect()] == [(9.0, 2)]
    assert [(r["val"], r["v"]) for r in m2.lookup_key(50).collect()] == [(1.0, 1)]


def _point_fixture(spark, path, table_type):
    """Keys 0-199 in two bulk loads; keys 0-4 updated and 10-11 deleted after
    the index is built (a live log and a tombstone log on MOR, base rewrites
    on COW)."""
    t = Table.create(
        spark,
        path,
        "k BIGINT, val DOUBLE, v INT",
        TableConfig(record_key=["k"], precombine="v", table_type=table_type),
    )
    for lo in (0, 100):
        t.bulk_insert(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), F.lit(1.0).alias("val"), F.lit(1).alias("v")
            )
        )
    t.create_record_index()
    Table(spark, path).upsert(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(9.0).alias("val"), F.lit(2).alias("v")
        )
    )
    Table(spark, path).delete(spark.range(10, 12).select(F.col("id").alias("k")))
    return Table(spark, path)


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_point_reads_plan_without_a_spark_job(spark, tmp_path, table_type):
    """A literal key resolves to its holder files on the driver: lookup_key
    and scan()'s key-equality routing launch no Spark job before the
    action, and return the rows of an unindexed snapshot read."""
    t = _point_fixture(spark, str(tmp_path / table_type), table_type)
    logs = [r for r, (_, a) in t.timeline.live_files()[0].items() if a == "deltacommit"]
    assert bool(logs) == (table_type == "mor")
    sc = spark.sparkContext
    # only in a base file, updated after the build, deleted, absent
    for key in (150, 3, 10, 10_000):
        want = sorted(map(tuple, t.read().filter(F.col("k") == key).collect()))
        for name, read in (
            ("lookup_key", lambda: t.lookup_key(key)),
            ("scan", lambda: t.scan([("k", "=", key)])),
        ):
            group = f"rli-point-planning-{table_type}-{key}-{name}"
            sc.setJobGroup(group, "must stay empty")
            try:
                df = read()
                assert sc.statusTracker().getJobIdsForGroup(group) == [], (key, name)
            finally:
                sc.setJobGroup(None, None)
            assert sorted(map(tuple, df.collect())) == want
        ev = t.last_record_lookup
        assert ev["scanned"] < ev["total"] and (key != 10_000 or ev["scanned"] == 0)


def _plant_hidden(gen_dir: str, rel: str, keys: list[str]) -> None:
    """Files Spark's reader never sees: an in-flight committer output whose
    entries name a live file, a ``_SUCCESS`` marker and a checksum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(gen_dir, "append_planted", "_temporary", "0")
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(
        pa.table({"key": keys, "rel": [rel] * len(keys)}),
        os.path.join(tmp, "part-00000-planted.parquet"),
    )
    for name in ("_SUCCESS", ".part-00000-planted.crc"):
        with open(os.path.join(gen_dir, name), "w") as f:
            f.write("not parquet")


def test_driver_probe_matches_semi_join(spark, tbl):
    """The driver probe and the key locator's semi join return the same
    candidates — over a generation of several appends and over its rebuild —
    and both ignore hidden paths in the generation dir."""
    for b in range(1, 4):
        Table(spark, tbl.base).upsert(_batch(spark, b, 100 * b, 100 * b + 150))
    Table(spark, tbl.base).delete(spark.range(20, 25).select(F.col("id").alias("k")))
    present, deleted, absent = ["7", "150", "599"], ["20", "24"], ["10000", "x"]

    def check(t):
        live = sorted(t.timeline.live_files()[0])
        _plant_hidden(t._record_index_data_dir(), live[0], deleted + absent)
        for keys in [[k] for k in present + deleted + absent] + [present + deleted + absent]:
            got = t._record_index_probe(live, keys)
            keys_df = spark.createDataFrame([(k,) for k in keys], "_hoodie_record_key STRING")
            assert got == _located(t, live, keys_df), keys
            assert bool(got) == bool(set(keys) & set(present)), keys

    t = Table(spark, tbl.base)
    # one append per upsert and one for the delete
    assert sum(n.startswith("append_") for n in os.listdir(t._record_index_data_dir())) >= 4
    check(t)
    t.rebuild_index("record_index")
    t2 = Table(spark, tbl.base)
    assert t2._index_meta("record_index")["gen"] == 1
    check(t2)


def _rli_writer_proc(base: str, residue: int, out) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hudi_examples_spark.table import ConcurrentWriteConflict, Table

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"rli-writer-{residue}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    try:
        done = 0
        for b in range(1, 4):
            df = spark.range(200).select(
                (F.col("id") * 2 + residue).alias("k"),
                (F.col("id") * 1.0 + b).alias("val"),
                F.lit(f"w{residue}").alias("seg"),
                F.lit(b + 1).alias("v"),
            )
            for _ in range(60):
                try:
                    Table(spark, base).upsert(df)
                    done += 1
                    break
                except ConcurrentWriteConflict:
                    continue
        out.put((residue, done))
    except BaseException:
        import traceback

        out.put((residue, traceback.format_exc()))
        raise
    finally:
        spark.stop()


def _rli_services_proc(base: str, out) -> None:
    import time

    from pyspark.sql import SparkSession

    from hudi_examples_spark.table import Table

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("rli-rebuilder")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    try:
        for _ in range(3):
            time.sleep(0.6)
            Table(spark, base).rebuild_index("record_index")
        out.put(("rebuilds", 3))
    except BaseException:
        import traceback

        out.put(("rebuilds", traceback.format_exc()))
        raise
    finally:
        spark.stop()


def test_concurrent_writers_and_rebuilds_keep_mapping_exact(spark, tmp_path):
    """Two writer PROCESSES churn an RLI table while a third rebuilds the
    index on a cadence: the lost-mapping race (append lands in a generation
    the rebuild supersedes) must be closed by the publish-time guard. Final
    probes must be EXACT — an RLI that forgets a holder file plans a lossy
    rewrite, i.e. silently loses updates."""
    import multiprocessing as mp

    from pyspark.sql import functions as F

    base = str(tmp_path / "conc")
    t = Table.create(
        spark,
        base,
        SCHEMA,
        TableConfig(record_key=["k"], precombine="v", partition_by=["seg"]),
    )
    for residue in (0, 1):
        t.insert(
            spark.range(200).select(
                (F.col("id") * 2 + residue).alias("k"),
                F.lit(0.0).alias("val"),
                F.lit(f"w{residue}").alias("seg"),
                F.lit(1).alias("v"),
            )
        )
    t.create_record_index()

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_rli_writer_proc, args=(base, 0, q)),
        ctx.Process(target=_rli_writer_proc, args=(base, 1, q)),
        ctx.Process(target=_rli_services_proc, args=(base, q)),
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=600)
    results = dict(q.get(timeout=30) for _ in range(3))
    assert all(p.exitcode == 0 for p in procs), results  # tracebacks ride the queue
    assert results[0] == 3 and results[1] == 3 and results["rebuilds"] == 3, results

    final = Table(spark, base)
    assert (final._index_meta("record_index") or {}).get("valid") is True
    # exactness probe over a key sample spanning both writers' residues
    live = sorted(final.timeline.live_files()[0])
    cand = _located(final, live, _keys(spark, 0, 40))
    truth = set()
    for r in live:
        ks = {
            int(row["_hoodie_record_key"])
            for row in final._read_files([r], with_deleted=True)
            .select("_hoodie_record_key")
            .collect()
        }
        if ks & set(range(40)):
            truth.add(r)
    assert set(cand) == truth and truth
    # final state: every key carries its writer's LAST batch
    rows = {r["k"]: (r["val"], r["v"]) for r in final.read().collect()}
    assert len(rows) == 400
    for k, (val, v) in rows.items():
        assert v == 4 and val == (k - (k % 2)) / 2 + 3.0, (k, val, v)


def test_sql_ddl_and_drop(spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    sess = Engine(spark, str(tmp_path / "wh"))
    sess.sql(
        "CREATE TABLE rt (k BIGINT, val DOUBLE, v INT) USING hudi "
        "TBLPROPERTIES (primaryKey = 'k', preCombineField = 'v')"
    )
    sess.sql("INSERT INTO rt VALUES (1, 1.0, 1), (2, 2.0, 1)")
    sess.sql("CREATE INDEX record_index ON rt (k)")
    tbl = sess.table("rt")
    assert (tbl._index_meta("record_index") or {}).get("valid") is True
    # column list must match the record key
    with pytest.raises(ValueError):
        sess.sql("CREATE INDEX record_index ON rt (val)")
    sess.sql("CALL rebuild_index('rt', 'record_index')")
    assert (Table(spark, tbl.base)._index_meta("record_index") or {}).get("gen") == 1
    shown = {
        r["indexName"]: (r["indexType"], r["generation"], r["valid"])
        for r in sess.sql("SHOW INDEXES FROM rt").collect()
    }
    assert shown["record_index"] == ("record_index", 1, True)
    sess.sql("DROP INDEX record_index ON rt")
    assert Table(spark, tbl.base)._index_meta("record_index") is None


def test_record_index_name_is_reserved(spark, tmp_path):
    """``record_index`` names the record index in every index verb, so no
    value index may take it: a secondary index of that name would shadow the
    record index in DROP INDEX / CALL rebuild_index."""
    from hudi_examples_spark.sql import Engine

    sess = Engine(spark, str(tmp_path / "wh"))
    sess.sql(
        "CREATE TABLE rt (k BIGINT, val DOUBLE, v INT) USING hudi "
        "TBLPROPERTIES (primaryKey = 'k', preCombineField = 'v')"
    )
    sess.sql("INSERT INTO rt VALUES (1, 1.0, 1), (2, 2.0, 1)")
    tbl = sess.table("rt")
    with pytest.raises(ValueError, match="reserved"):
        sess.sql("CREATE INDEX record_index ON rt USING secondary_index(val)")
    with pytest.raises(ValueError, match="reserved"):
        tbl.create_expression_index("Record_Index", "val * 2")
    with pytest.raises(ValueError, match="reserved"):
        tbl.schedule_indexing("expression", name="record_index", expr="val * 2")
    assert tbl.index_names() == [] and tbl.pending_indexings() == []
    # the record index itself answers to the name in every verb
    sess.sql("CREATE INDEX record_index ON rt (k)")
    sess.sql("CALL rebuild_index('rt', 'record_index')")
    assert Table(spark, tbl.base)._index_meta("record_index")["gen"] == 1
    sess.sql("DROP INDEX record_index ON rt")
    assert Table(spark, tbl.base).index_names() == []


def test_lookup_key_raced_invalidation_keeps_evidence(spark, tbl):
    """If the index is invalidated between scan()'s readiness check and the
    probe, lookup_key falls back to a col-stats scan — the pruning-evidence
    attribute must still be set (a fresh handle used to AttributeError)."""
    t = Table(spark, tbl.base)
    meta = t._index_meta("record_index")
    meta["valid"] = False
    t._write_index_meta("record_index", meta)
    # simulate the race on a FRESH handle: candidates probe sees invalid meta
    t2 = Table(spark, tbl.base)
    rows = t2.lookup_key(7).collect()
    assert [r["k"] for r in rows] == [7]
    assert isinstance(t2.last_record_lookup, dict)  # set even on fallback
