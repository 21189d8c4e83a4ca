"""Index consistency under rollback, rebuild races, and concurrent-safe heal.

Round-5 hardening (advisor findings):
- rollback of a replace commit RESURRECTS row versions a later-built index has
  never seen — the index must stop serving until rebuilt (the
  'complete superset' contract: a lookup may cost extra IO, never a row).
- rebuild_index must swap generations atomically (no rmtree window) and a
  writer whose append raced the swap must re-append at publish time.
- heal() run from run_services must not sweep an in-flight writer's staging
  dirs / moved-but-unpublished files (age gate), and must reclaim superseded
  index generations.
- run_services' index-bloat trigger is metadata-only (parquet footers), never
  a snapshot merge job.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig


@pytest.fixture()
def tbl(spark, tmp_path):
    return Table.create(
        spark,
        str(tmp_path / "t"),
        "id STRING, val STRING, ts LONG",
        TableConfig(record_key=["id"], precombine="ts"),
    )


def _rows(spark, *triples):
    return spark.createDataFrame(list(triples), "id STRING, val STRING, ts LONG")


#: the protocol tests run once per index kind: a value (secondary) index on
#: ``val`` and the record index on ``id``
KINDS = ["value", "record"]


def _index(tbl, kind):
    """Create an index of ``kind`` on ``tbl``; returns its name."""
    if kind == "record":
        tbl.create_record_index()
        return "record_index"
    tbl.create_secondary_index("val")
    return "val"


def _lookup(tbl, kind, key, val):
    """Point read through the index of ``kind``: by record key or by value."""
    return tbl.lookup_key(key) if kind == "record" else tbl.lookup("val", val)


def _served(tbl, kind):
    """Whether the index answered: a keyed write records its record-index
    probe; a value lookup records its pruning evidence (an invalid index
    routes to a plain scan, or records ``invalid_fallback`` instead)."""
    if kind == "record":
        return (tbl.last_key_prune or {}).get("record_index") is True
    evidence = getattr(tbl, "last_index_lookup", None) or {}
    return "scanned" in evidence and "invalid_fallback" not in evidence


def test_rollback_invalidates_index_and_lookup_stays_correct(spark, tbl):
    # the advisor's exact repro: insert A, upsert to B, index, rollback.
    tbl.insert(_rows(spark, ("k1", "A", 1)))
    up = tbl.upsert(_rows(spark, ("k1", "B", 2)))
    tbl.create_secondary_index("val")
    assert tbl.lookup("val", "B").count() == 1
    tbl.rollback(up)
    # resurrected version: the snapshot says val=A again
    assert tbl.read().filter(F.col("val") == "A").count() == 1
    # the index never saw A — it must not serve; all three read paths agree
    assert tbl.lookup("val", "A").count() == 1
    assert tbl.scan([("val", "=", "A")]).count() == 1
    assert tbl.lookup_indexed("val", "A").count() == 1
    assert tbl.lookup("val", "B").count() == 0
    meta = tbl._index_meta("val")
    assert meta["valid"] is False and meta["invalidated_by"]


def test_rollback_of_pure_insert_keeps_index_valid(spark, tbl):
    tbl.insert(_rows(spark, ("k1", "A", 1)))
    tbl.create_secondary_index("val")
    ins = tbl.bulk_insert(_rows(spark, ("k2", "C", 1)))
    tbl.rollback(ins)
    # nothing resurrected (a blind append replaces no files): stale superset
    # entries are fine, the index stays valid. (A keyed COW write that DID
    # rewrite a file group invalidates — conservatively correct.)
    assert tbl._index_meta("val")["valid"] is True
    assert tbl.lookup("val", "A").count() == 1
    assert tbl.lookup("val", "C").count() == 0


@pytest.mark.parametrize("kind", KINDS)
def test_run_services_rebuilds_invalidated_index(spark, tbl, kind):
    # two file groups, so keyed writes plan by key pruning
    tbl.bulk_insert(_rows(spark, ("k1", "A", 1)))
    tbl.bulk_insert(_rows(spark, ("k2", "C", 1)))
    up = tbl.upsert(_rows(spark, ("k1", "B", 2)))  # replace commit
    name = _index(tbl, kind)
    tbl.rollback(up)  # resurrects the replaced file
    meta = tbl._index_meta(name)
    assert meta["valid"] is False and meta["invalidated_by"]
    # an invalid index never serves: keyed writes plan by range/bloom and
    # lookups scan — same rows
    t = Table(spark, tbl.base)
    t.upsert(_rows(spark, ("k2", "C2", 3)))
    assert _lookup(t, kind, "k1", "A").count() == 1
    assert not _served(t, kind)
    report = Table(spark, tbl.base).run_services()
    assert name in report["indexes_rebuilt"]
    meta = tbl._index_meta(name)
    assert meta["valid"] is True and meta["gen"] == 1
    # the rebuilt index serves the resurrected version WITH pruning again
    t = Table(spark, tbl.base)
    t.upsert(_rows(spark, ("k2", "C3", 4)))
    assert _lookup(t, kind, "k1", "A").count() == 1
    assert _served(t, kind)
    # resurrected rows are back and updated rows carry the latest version
    rows = {r["id"]: (r["val"], r["ts"]) for r in Table(spark, tbl.base).read().collect()}
    assert rows == {"k1": ("A", 1), "k2": ("C3", 4)}


def test_restore_to_savepoint_invalidates_index(spark, tbl):
    tbl.insert(_rows(spark, ("k1", "A", 1)))
    sp = tbl.savepoint()
    tbl.upsert(_rows(spark, ("k1", "B", 2)))
    tbl.create_secondary_index("val")
    tbl.restore_to_savepoint(sp)
    assert tbl.read().filter(F.col("val") == "A").count() == 1
    assert tbl.lookup("val", "A").count() == 1
    assert tbl._index_meta("val")["valid"] is False


@pytest.mark.parametrize("kind", KINDS)
def test_rebuild_swaps_generation_and_heal_sweeps_old(spark, tbl, kind):
    tbl.insert(_rows(spark, ("k1", "A", 1), ("k2", "C", 1)))
    name = _index(tbl, kind)
    old_dir = tbl._index_data_dir(name)
    tbl.rebuild_index(name)
    new_dir = tbl._index_data_dir(name)
    assert new_dir != old_dir
    # the superseded generation survives the swap (in-flight readers)...
    assert os.path.isdir(old_dir)
    assert _lookup(tbl, kind, "k1", "A").count() == 1
    # ...until heal sweeps it, age-gated by the lock TTL
    tbl.LOCK_TTL_SECONDS = 0.0
    removed = tbl.heal()
    gen0 = {"value": "_index/val/data", "record": "_record_index/data"}[kind]
    assert gen0 in removed
    assert not os.path.isdir(old_dir)
    assert _lookup(tbl, kind, "k1", "A").count() == 1


@pytest.mark.parametrize("kind", KINDS)
def test_heal_never_sweeps_future_generations(spark, tbl, kind):
    """An IN-FLIGHT rebuild's NEW generation dir (gen > meta's current) must
    survive heal even past the age gate: sweeping it would let the rebuild's
    subsequent locked swap mark a gutted dir valid and silently break the
    superset lookup contract. Only strictly-LOWER generations are sweepable."""
    tbl.insert(_rows(spark, ("k1", "A", 1), ("k2", "C", 1)))
    name = _index(tbl, kind)
    tbl.rebuild_index(name)  # current gen -> 1, gen0 superseded
    d = tbl._index_dir(name)
    future = os.path.join(d, "data_g0002")  # an in-flight rebuild's build dir
    os.makedirs(future, exist_ok=True)
    with open(os.path.join(future, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    gen0 = os.path.join(d, "data")
    old = time.time() - 7200
    for p in (future, gen0):
        os.utime(p, (old, old))
    tbl.heal(min_age_seconds=1.0)
    assert os.path.isdir(future), "future generation swept mid-rebuild"
    assert not os.path.isdir(gen0), "superseded gen0 should be reclaimed"


@pytest.mark.parametrize("kind", KINDS)
def test_publish_guard_reappends_after_generation_bump(spark, tbl, kind):
    """A writer whose index append raced a rebuild re-appends into the new
    generation inside its locked publish — simulated deterministically by
    staging the pending-append record, bumping the generation, then running
    the guard the publish path runs."""
    tbl.insert(_rows(spark, ("k1", "A", 1)))
    name = _index(tbl, kind)
    inst = tbl.insert(_rows(spark, ("k2", "D", 1)))
    rels = [
        r
        for i in tbl.timeline.completed_data_instants()
        if i.instant == inst
        for r in i.files_added
    ]
    # writer state as of its append: generation 0
    tbl._pending_index_appends = {
        "rels": rels, "partial_cols": None, "kinds": {kind}, "gens": {name: 0}
    }
    tbl.rebuild_index(name)  # concurrent maintenance swaps to generation 1
    n_before = tbl._read_index_entries(name).count()
    tbl._index_publish_guard()
    n_after = tbl._read_index_entries(name).count()
    assert n_after > n_before  # entries re-derived into the new generation
    assert _lookup(tbl, kind, "k2", "D").count() == 1


def test_heal_age_gate_protects_inflight_files(spark, tbl):
    tbl.insert(_rows(spark, ("k1", "A", 1)))
    # a fresh unpublished data file — exactly what an in-flight commit looks
    # like between its file move and its timeline publish
    orphan = os.path.join(tbl.base, "inflight-0.parquet")
    _rows(spark, ("kX", "Z", 9)).toPandas().to_parquet(orphan)
    staging = os.path.join(tbl.base, ".staging", "20990101000000000")
    os.makedirs(staging)
    assert tbl.heal(min_age_seconds=3600) == []  # concurrent-safe pass: skip
    assert os.path.exists(orphan) and os.path.isdir(staging)
    # age the debris past the gate and the same pass reclaims it
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    os.utime(staging, (old, old))
    removed = tbl.heal(min_age_seconds=3600)
    assert "inflight-0.parquet" in removed
    assert not os.path.exists(orphan) and not os.path.isdir(staging)
    # crash-recovery default stays immediate
    _rows(spark, ("kY", "Z", 9)).toPandas().to_parquet(orphan)
    assert "inflight-0.parquet" in tbl.heal()


def test_bloat_trigger_reads_no_data(spark, tbl):
    """run_services' bloat check must stay O(metadata): footer row counts,
    never a snapshot merge — asserted by making every table read explode."""
    for i in range(3):
        tbl.upsert(_rows(spark, ("k1", f"A{i}", i), ("k2", f"C{i}", i)))
    tbl.create_secondary_index("val")

    def boom(*a, **k):  # any snapshot read during services is the bug
        raise AssertionError("run_services read the table for its bloat check")

    tbl.read = boom
    report = tbl.run_services()
    assert report["indexes_rebuilt"] == []  # superset small: no rebuild fired


def test_bloat_trigger_still_fires_from_footers(spark, tbl):
    tbl.insert(_rows(spark, ("k1", "A", 0), ("k2", "C", 0)))
    tbl.create_secondary_index("val")
    for i in range(1, 9):  # churn: 8 superset appends over 2 live rows
        tbl.upsert(_rows(spark, ("k1", f"A{i}", i), ("k2", f"C{i}", i)))
    report = tbl.run_services(index_bloat_ratio=3.0)
    assert "val" in report["indexes_rebuilt"]
    assert tbl._index_meta("val")["gen"] == 1
    assert tbl.lookup("val", "A8").count() == 1


def test_call_run_services_front_door(spark, tmp_path):
    from hudi_examples_spark.sql import Engine

    sql = Engine(spark, str(tmp_path / "wh"))
    sql.sql(
        "CREATE TABLE svc (id STRING, val STRING, ts LONG) USING hudi "
        "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts')"
    )
    sql.sql("INSERT INTO svc VALUES ('k1', 'A', 1), ('k2', 'B', 1)")
    out = sql.sql("CALL run_services('svc')")
    services = {r["service"] for r in out.collect()}
    assert {"healed", "cleaned", "indexes_rebuilt", "archived"} <= services


@pytest.mark.parametrize("kind", KINDS)
def test_drop_index_leaves_trash_for_readers_then_heal_sweeps(spark, tbl, kind):
    tbl.insert(_rows(spark, ("k1", "A", 1)))
    name = _index(tbl, kind)
    data_dir = tbl._index_data_dir(name)
    tbl.drop_index(name)
    assert tbl.index_names() == [] and tbl.secondary_index_cols() == []
    assert tbl._index_meta(name) is None
    # the dataset itself survives the drop (renamed, not rmtree'd) so an
    # in-flight reader finishes cleanly...
    trash_root = os.path.dirname(tbl._index_dir(name))
    trash = [d for d in os.listdir(trash_root) if d.startswith(f".trash-{name}-")]
    assert len(trash) == 1 and not os.path.isdir(data_dir)
    # ...and heal reclaims it once aged past the gate
    tbl.LOCK_TTL_SECONDS = 0.0
    removed = tbl.heal()
    assert any(f".trash-{name}-" in r for r in removed)
    assert not any(d.startswith(".trash-") for d in os.listdir(trash_root))


# --------------------------------------------------------------------------
# Round-8: indexes must FOLLOW clustering rewrites (the compaction leg above
# this file already covers; clustering retires file groups the same way).
# Done-bar: lookup-after-cluster scans ONLY the rewritten file.
# --------------------------------------------------------------------------


def _three_file_table(spark, tmp_path):
    """3 blind appends -> 3 distinct base file groups (a keyed ``insert``
    would absorb into the existing small file group and keep ONE file); ids
    contiguous per val group so a sort layout puts each group in one output
    file."""
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        "id STRING, val STRING, ts LONG",
        TableConfig(record_key=["id"], precombine="ts"),
    )
    for grp, v in (("1", "A"), ("2", "B"), ("3", "C")):
        t.bulk_insert(_rows(spark, *[(f"k{grp}{i}", v, 1) for i in range(3)]).coalesce(1))
    assert len(t.timeline.live_files()[0]) == 3
    return t


def test_record_index_follows_clustering(spark, tmp_path):
    t = _three_file_table(spark, tmp_path)
    t.create_record_index()
    assert [r["val"] for r in t.lookup_key("k21").collect()] == ["B"]
    assert t.last_record_lookup["scanned"] == 1

    inst = t.cluster_sort(["id"], n_files=3)
    assert inst is not None

    t2 = Table(spark, t.base)  # fresh handle: no cached index state
    # clustering is a view-preserving rewrite — the index must keep serving
    assert t2._record_index_ready()
    cl = next(i for i in t2.timeline.completed_data_instants() if i.instant == inst)
    live, _ = t2.timeline.live_files()
    assert set(live) == set(cl.files_added), "live set must be exactly the rewrite"

    assert [r["val"] for r in t2.lookup_key("k21").collect()] == ["B"]
    ev = t2.last_record_lookup
    # only ONE of the three rewritten files is read; the retired files the
    # old entries point at are dropped by the liveness intersect
    assert ev == {"total": 3, "scanned": 1}


def test_secondary_and_expression_index_follow_clustering(spark, tmp_path):
    t = _three_file_table(spark, tmp_path)
    t.create_secondary_index("val")
    t.create_expression_index("val_lower", "lower(val)")

    inst = t.cluster_sort(["id"], n_files=3)
    assert inst is not None

    t2 = Table(spark, t.base)
    for name in ("val", "val_lower"):
        meta = t2._index_meta(name)
        assert meta is not None and meta.get("valid", True) is True, (
            f"clustering must not invalidate index {name}"
        )

    out = t2.lookup("val", "B")
    assert sorted(r["id"] for r in out.collect()) == ["k20", "k21", "k22"]
    ev = t2.last_index_lookup
    # key-range sidecars of the REWRITTEN files prune the other two groups
    assert ev == {"total": 3, "scanned": 1, "pruned": 2}

    out = t2.lookup_indexed("val_lower", "c")
    assert sorted(r["id"] for r in out.collect()) == ["k30", "k31", "k32"]
    assert t2.last_index_lookup == {"total": 3, "scanned": 1, "pruned": 2}


def test_indexes_follow_small_file_clustering(spark, tmp_path):
    """cluster_small_files bin-packs the tiny per-insert files into one; every
    index keeps serving and the point read scans exactly the packed file."""
    t = _three_file_table(spark, tmp_path)
    t.create_record_index()
    t.create_secondary_index("val")
    inst = t.cluster_small_files()  # 3 tiny files -> 1 bin -> 1 file
    assert inst is not None

    t2 = Table(spark, t.base)
    live, _ = t2.timeline.live_files()
    assert len(live) == 1

    assert [r["val"] for r in t2.lookup_key("k11").collect()] == ["A"]
    assert t2.last_record_lookup == {"total": 1, "scanned": 1}

    assert sorted(r["id"] for r in t2.lookup("val", "C").collect()) == [
        "k30", "k31", "k32",
    ]
    assert t2.last_index_lookup["scanned"] == 1
    # and a later keyed write still plans through the maintained record index
    t2.upsert(_rows(spark, ("k11", "A2", 2)))
    assert [r["val"] for r in Table(spark, t.base).lookup_key("k11").collect()] == ["A2"]
