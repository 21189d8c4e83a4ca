"""Timeline archival: O(active) planning for long-lived tables.

Parity: Hudi's archived timeline (``hoodie.archive.*`` knobs,
``DeltaStreamerExample.scala:46-47``) — old instants fold away, reads keep
working, pre-boundary time travel is rejected, savepoints pin the boundary.
"""

from __future__ import annotations

import os

import pytest

from hudi_examples_spark.table.timeline import Instant, Timeline, new_instant
from tests.test_scale_paths import load_df, make, rows_df


def test_archive_folds_200_commits_to_bounded_instant_count(tmp_path):
    tl = Timeline(str(tmp_path))
    # a streaming writer's life: 220 commits, each superseding the previous file
    prev = None
    for n in range(220):
        inst = new_instant()
        rel = f"f_{n:04d}.parquet"
        tl.write(Instant(inst, "commit", [rel], [prev] if prev else [], {"n": n}))
        prev = rel
    files_before, latest_before = tl.live_files()
    assert len(tl.instants()) == 220
    archived = tl.archive(retain_data_instants=20)
    assert archived == 200
    # planning now touches a bounded instant count
    assert len(tl.instants()) == 20
    assert tl.live_files() == (files_before, latest_before)
    # idempotent / incremental: archiving again is a no-op until more commits land
    assert tl.archive(retain_data_instants=20) == 0
    tl.write(Instant(new_instant(), "commit", ["g.parquet"], [prev], {}))
    assert tl.archive(retain_data_instants=20) == 1
    assert len(tl.instants()) == 20
    # audit trail of archived instants is preserved
    audit = os.path.join(str(tmp_path), "_timeline", "_archive", "instants.jsonl")
    assert sum(1 for _ in open(audit)) == 201


def test_pre_boundary_time_travel_rejected(tmp_path):
    tl = Timeline(str(tmp_path))
    ids = []
    for n in range(30):
        inst = new_instant()
        ids.append(inst)
        tl.write(Instant(inst, "commit", [f"f{n}.parquet"], [], {}))
    tl.archive(retain_data_instants=10)
    boundary = ids[-10]
    # at/after boundary: fine
    assert len(tl.live_files(ids[-1])[0]) == 30
    assert len(tl.live_files(boundary)[0]) == 21
    with pytest.raises(ValueError, match="archived timeline boundary"):
        tl.live_files(ids[5])


def test_pre_boundary_completion_cut_rejected(tmp_path):
    """ADVICE r9 #2: the completion-time twin of the as_of guard. A completion
    cut (or incremental cursor) below the newest archived publish stamp cannot
    be served — the checkpoint already folded those changes — and must raise
    exactly like the begin-id path, not silently treat them as pre-window."""
    import json

    tl = Timeline(str(tmp_path))
    for n in range(30):
        tl.write(Instant(new_instant(), "commit", [f"f{n}.parquet"], [], {}))
    assert tl.completed_boundary() == 0.0  # never archived: every cut servable
    tl.archive(retain_data_instants=10)
    cb = tl.completed_boundary()
    archived_stamps = [i.committed_at for i in tl.archived_audit()]
    assert cb == max(archived_stamps) > 0.0
    # a cut at/after the boundary is servable (checkpoint + eligible actives)
    files, _ = tl.live_files(completed_by=cb)
    assert len(files) >= 20
    with pytest.raises(ValueError, match="archived completion boundary"):
        tl.live_files(completed_by=cb - 1.0)
    # pre-field checkpoint (written before completed_boundary existed) falls
    # back to replaying the audit log, which always kept the stamps
    cp_path = tl._checkpoint_path()
    cp = json.load(open(cp_path))
    del cp["completed_boundary"]
    json.dump(cp, open(cp_path, "w"))
    assert tl.completed_boundary() == cb


def test_pre_boundary_completion_cursor_rejected_at_table_level(spark, tmp_path):
    """An incremental/CDC consumer whose completion cursor predates archival
    must fail loudly from both table_changes_by_completion and the CDC twin."""
    t = make(spark, tmp_path)
    for n in range(15):
        t.upsert(rows_df(spark, 0, [1], ts=n + 1))
    pre_cursor = t.latest_completion()
    for n in range(15, 30):
        t.upsert(rows_df(spark, 0, [1], ts=n + 1))
    assert t.timeline.archive(retain_data_instants=5) > 0
    cb = t.timeline.completed_boundary()
    assert pre_cursor < cb
    with pytest.raises(ValueError, match="archived completion boundary"):
        t.table_changes_by_completion(start_ct=pre_cursor)
    with pytest.raises(ValueError, match="archived completion boundary"):
        t.table_changes_cdc_by_completion(start_ct=pre_cursor).collect()
    # a cursor at/after the boundary still serves
    assert t.table_changes_by_completion(start_ct=cb).count() >= 0


def test_archival_end_to_end_preserves_views_and_savepoints(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow")
    tbl.insert(load_df(spark, range(2), range(10)))
    for ts in range(2, 12):
        tbl.upsert(rows_df(spark, 0, range(3), ts=ts, v=float(ts)))
    mid = tbl.latest_instant()
    sp = tbl.savepoint()  # pins the current snapshot
    for ts in range(12, 16):
        tbl.upsert(rows_df(spark, 1, range(3), ts=ts, v=float(ts)))
    before = tbl.read().collect()
    n = tbl.archive_timeline(retain_instants=3)
    assert n > 0
    # snapshot identical across the archive
    assert sorted(map(str, tbl.read().collect())) == sorted(map(str, before))
    # the savepoint pinned the boundary: its snapshot is still reconstructable
    # and time travel to it still works
    assert tbl.read(as_of=sp).filter("p=0 and v=11.0").count() == 3
    # further writes + maintenance keep working on the archived table
    tbl.upsert(rows_df(spark, 0, range(2), ts=99, v=99.0))
    assert tbl.read().filter("v=99.0").count() == 2
    tbl.clean(retain_commits=2)
    # heal may reclaim files that died BEFORE the boundary (clean can no
    # longer see their instants) — but never anything live or pinned:
    tbl.heal()
    assert tbl.read().filter("v=99.0").count() == 2
    assert tbl.read(as_of=sp).filter("p=0 and v=11.0").count() == 3


def test_archival_respects_savepoint_pin_then_releases(spark, tmp_path):
    tbl = make(spark, tmp_path, table_type="cow")
    tbl.insert(rows_df(spark, 0, range(5)))
    sp = tbl.savepoint()
    for ts in range(2, 10):
        tbl.upsert(rows_df(spark, 0, range(2), ts=ts, v=float(ts)))
    # savepoint target is the very first commit: nothing can archive past it
    assert tbl.archive_timeline(retain_instants=2) == 0
    tbl.release_savepoint(sp)
    assert tbl.archive_timeline(retain_instants=2) > 0
    assert tbl.read().filter("v=9.0").count() == 2


def test_crash_between_checkpoint_and_instant_removal_is_safe(tmp_path):
    """archive()'s commit point is the checkpoint rename; a crash before the
    archived instant files are deleted leaves BOTH on disk. Replaying an
    already-folded instant over the checkpoint state is idempotent (same
    add/remove set ops in the same order), so readers see the exact same
    snapshot — and a later archive() converges."""
    import shutil

    tl = Timeline(str(tmp_path))
    prev = None
    for n in range(40):
        rel = f"f_{n:03d}.parquet"
        tl.write(Instant(new_instant(), "commit", [rel], [prev] if prev else [], {}))
        prev = rel
    want = tl.live_files()
    # simulate the crash: snapshot the instant files, archive, then restore
    # the "deleted" instant files next to the new checkpoint
    backup = tmp_path / "backup"
    shutil.copytree(tmp_path / "_timeline", backup)
    assert tl.archive(retain_data_instants=10) == 30
    for fn in os.listdir(backup):
        if fn.endswith(".json"):
            dst = tmp_path / "_timeline" / fn
            if not dst.exists():
                shutil.copy(backup / fn, dst)
    # checkpoint + stale instants coexist: view unchanged
    assert tl.live_files() == want
    # re-archive converges instead of corrupting
    tl.archive(retain_data_instants=10)
    assert tl.live_files() == want
    assert len(tl.instants()) == 10


def test_clean_keep_latest_by_hours(spark, tmp_path):
    """KEEP_LATEST_BY_HOURS: snapshots younger than the window survive
    cleaning (with time travel intact); an enormous window is a no-op; a
    zero window keeps at least the latest snapshot."""
    from pyspark.sql import functions as F

    from hudi_examples_spark.table import Table, TableConfig

    t = Table.create(
        spark,
        str(tmp_path / "h"),
        "k BIGINT, v INT",
        TableConfig(record_key=["k"], precombine="v"),
    )
    for b in range(1, 6):
        t.upsert(spark.range(50).select(F.col("id").alias("k"), F.lit(b).alias("v")))
    # everything is seconds old: a 1-hour window retains all → no-op
    assert Table(spark, t.base).clean(policy="hours", retain_hours=1.0) == []
    # a zero-hour window keeps only the latest snapshot; older-only files go
    removed = Table(spark, t.base).clean(policy="hours", retain_hours=0.0)
    assert removed
    t2 = Table(spark, t.base)
    assert t2.read().count() == 50
    assert {r["v"] for r in t2.read().collect()} == {5}
    import pytest

    with pytest.raises(ValueError, match="commits|hours"):
        t2.clean(policy="versions")


def test_instants_cache_sees_same_size_rewrite_within_one_tick(tmp_path):
    """A rewrite of an instant file with the same size inside one mtime tick
    must still invalidate the cached instants: the publish's rename is a new
    inode even when (name, mtime_ns, size) repeat."""
    tl = Timeline(str(tmp_path))
    inst = new_instant()
    tl.write(Instant(inst, "commit", ["a.parquet"], [], {"v": "a"}, committed_at=1.0))
    path = os.path.join(tl.dir, f"{inst}.commit.json")
    st = os.stat(path)
    assert tl.instants()[0].meta == {"v": "a"}
    tl.write(Instant(inst, "commit", ["a.parquet"], [], {"v": "b"}, committed_at=1.0))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))  # same tick
    assert os.stat(path).st_size == st.st_size
    assert tl.instants()[0].meta == {"v": "b"}


def test_instants_copies_nested_meta(tmp_path):
    tl = Timeline(str(tmp_path))
    tl.write(Instant(new_instant(), "commit", ["a.parquet"], [], {"plan": {"files": ["x"]}}))
    tl.instants()[0].meta["plan"]["files"].append("mutated")
    assert tl.instants()[0].meta == {"plan": {"files": ["x"]}}
