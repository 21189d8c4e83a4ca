"""Engine queries run on private session clones, never by toggling the
caller's session: a keyed, partitioned COW commit is one planning job plus
one static rewrite job, the caller's SQL conf is left as it was, and the
tombstone merge that made the rewrite join-free keeps the anti-join
semantics of a delete (checked against a dict model)."""

from __future__ import annotations

import ast
import math
import os
import pathlib
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import MergeClause, Table, TableConfig
from hudi_examples_spark.table.core import _adaptive, _static

SCHEMA = "id STRING, ts BIGINT, day STRING, v STRING"
COLS = ["id", "ts", "day", "v"]
#: keys are zero-padded and a day holds a contiguous key block, so per-file
#: key ranges never overlap across days (as in perfbench's ingest_cow)
PER_DAY = 100


def _key(k: int) -> str:
    return f"k{k:06d}"


def _row(k: int, ts: int, v: str = "v", day: str | None = None) -> tuple:
    return (_key(k), ts, day or f"d{k // PER_DAY:03d}", v)


def _df(spark, rows, extra: str = ""):
    return spark.createDataFrame(rows, SCHEMA + extra)


def _cow(spark, path, keys=range(5 * PER_DAY), **cfg) -> tuple[Table, dict]:
    t = Table.create(
        spark, path, SCHEMA,
        TableConfig(record_key=["id"], precombine="ts", partition_by=["day"], **cfg),
    )
    rows = [_row(k, 0) for k in keys]
    t.insert(_df(spark, rows))
    return t, {r[0]: r for r in rows}


def _snapshot(t: Table) -> dict:
    return {r["id"]: tuple(r) for r in t.read().select(*COLS).collect()}


@pytest.fixture(params=["one_task", "key_exchange"])
def layout(request, spark):
    """Both rewrite layouts: the one task a small commit merges and writes
    in, and the key exchange a larger commit gets (forced here by an AQE
    advisory partition size of 1 KiB on the caller's session, which the
    key width is measured in)."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    if request.param == "key_exchange":
        spark.conf.set(key, "1k")
    yield request.param
    spark.conf.set(key, before)


def _jobs(spark, name: str, fn) -> list[int]:
    """Stage count of each Spark job ``fn`` launched, in job order."""
    sc = spark.sparkContext
    group = f"engine-session-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    return [len(st.getJobInfo(j).stageIds) for j in sorted(st.getJobIdsForGroup(group))]


#: Spark jobs of one keyed commit, per index kind of the table
MAX_JOBS = {
    "default": 2,
    "partition_index": 2,
    "single_file": 2,
    "bloom": 3,
    "record_index": 3,
}


@pytest.mark.parametrize("kind", list(MAX_JOBS))
def test_keyed_partitioned_cow_commit_runs_two_jobs(spark, tmp_path, layout, kind):
    """Planning collect + one static rewrite: upsert-only, delete-only,
    write_cdc with I/U/D, and a MERGE with a DELETE clause, for every index
    kind. A bloom probe adds one job; the record index probes inside the
    planning collect and adds its entry append after the rewrite. A small
    commit's rewrite merges and writes in one stage; a larger one's key and
    partition exchanges stay inside the same job."""
    t, model = _cow(
        spark,
        str(tmp_path / "t"),
        keys=range(400, 500) if kind == "single_file" else range(5 * PER_DAY),
        **{"partition_index": {"index_type": "partition"}, "bloom": {"bloom_index": True}}.get(kind, {}),
    )
    if kind == "single_file":
        assert len(t.timeline.live_files()[0]) == 1
    if kind == "record_index":
        t.create_record_index()
    ups = [_row(k, 1, "u") for k in range(400, 420)] + [_row(k, 1, "n") for k in range(500, 520)]
    dels = [_row(k, 1) for k in range(420, 425)]
    cdc = (
        [r + ("I",) for r in (_row(k, 2, "i") for k in range(520, 560))]
        + [r + ("U",) for r in (_row(k, 2, "u2") for k in range(500, 505))]
        + [r + ("D",) for r in (_row(k, 2) for k in range(505, 508))]
    )
    src = [_row(k, 3, "m") for k in range(540, 550)] + [_row(k, 3, "m") for k in range(560, 565)]
    spark.createDataFrame(src, SCHEMA).createOrReplaceTempView("engine_session_src")
    writes = {
        "upsert": lambda: Table(spark, t.base).upsert(_df(spark, ups)),
        "delete": lambda: Table(spark, t.base).delete(_df(spark, dels)),
        "write_cdc": lambda: Table(spark, t.base).write_cdc(_df(spark, cdc, ", _op STRING")),
        "merge_delete": lambda: Table(spark, t.base).merge(
            spark.table("engine_session_src"),
            clauses=[
                MergeClause("matched", "delete", condition="source.id < 'k000545'"),
                MergeClause("matched", "update"),
                MergeClause("not_matched", "insert"),
            ],
        ),
    }
    jobs = {name: _jobs(spark, name, fn) for name, fn in writes.items()}
    assert all(len(stages) <= MAX_JOBS[kind] for stages in jobs.values()), jobs
    rewrite = -2 if kind == "record_index" else -1
    width_rule = 1 if layout == "one_task" else 3
    assert all(stages[rewrite] == width_rule for stages in jobs.values()), jobs

    for r in ups:
        model[r[0]] = r
    for r in dels:
        del model[r[0]]
    for r in cdc:
        if r[-1] == "D":
            del model[r[0]]
        else:
            model[r[0]] = r[:-1]
    for r in src:
        if r[0] < _key(545):
            del model[r[0]]
        else:
            model[r[0]] = r
    assert _snapshot(Table(spark, t.base)) == model


def test_outside_candidates_confirmed_in_one_static_job(spark, tmp_path):
    """Integer keys compare as strings in the key-range index, so "500"
    falls inside the range "0".."99" of another day's file: candidates
    outside the batch's partitions are confirmed by a key read, one static
    job between planning and the rewrite."""
    schema = "id INT, ts BIGINT, day STRING, v STRING"
    t = Table.create(
        spark, str(tmp_path / "t"), schema,
        TableConfig(record_key=["id"], precombine="ts", partition_by=["day"]),
    )
    model = {k: (k, 0, f"d{k // 100:03d}", "v") for k in range(1000)}
    t.insert(spark.createDataFrame(list(model.values()), schema))
    ups = [(k, 1, f"d{k // 100:03d}", "u") for k in range(500, 520)]
    t = Table(spark, t.base)
    jobs = _jobs(spark, "outside", lambda: t.upsert(spark.createDataFrame(ups, schema)))
    assert len(jobs) <= 3, jobs
    # the key exchange is sized from each batch row once, however many
    # string key ranges hold it, plus the confirmed candidates' rows
    rewritten = t.timeline.completed_data_instants()[-1].files_removed
    stored = sum(pq.read_metadata(os.path.join(t.base, r)).num_rows for r in rewritten)
    assert t.last_key_exchange["rows"] == stored + len(ups)
    model.update((r[0], r) for r in ups)
    rows = Table(spark, t.base).read().select("id", "ts", "day", "v").collect()
    assert {r["id"]: tuple(r) for r in rows} == model


def test_record_index_hits_in_two_files_count_a_batch_row_once(spark, tmp_path):
    """A key that moved partitions has record-index entries in two files
    (its old holder, now rewritten, and its new one); the key locator's
    semi join hits both, yet the key exchange counts each batch row once:
    the candidates' footer rows plus the batch rows."""
    t, model = _cow(spark, str(tmp_path / "t"))
    t.create_record_index()
    moved = _row(120, 1, "moved", day="d004")
    t.upsert(_df(spark, [moved]))
    model[moved[0]] = moved
    t = Table(spark, t.base)
    entries = t._read_index_entries(Table.RECORD_INDEX).filter(F.col("key") == _key(120))
    assert entries.count() == 2
    ups = [_row(120, 2, "again", day="d004")] + [_row(k, 2, "u") for k in range(300, 305)]
    t.upsert(_df(spark, ups))
    assert t.last_key_prune.get("record_index") is True
    rewritten = t.timeline.completed_data_instants()[-1].files_removed
    stored = sum(pq.read_metadata(os.path.join(t.base, r)).num_rows for r in rewritten)
    assert t.last_key_exchange["rows"] == stored + len(ups)
    model.update((r[0], r) for r in ups)
    _check(spark, t, model)


def test_key_width_counts_reducers_and_scan_splits_as_spark_would(spark, tmp_path):
    """The key exchange gets one reducer per advisory partition size of
    estimated shuffle data, or one per file split of the candidate scan if
    that is more, capped at the shuffle width; at width 1 one task scans,
    merges and writes."""
    t, model = _cow(spark, str(tmp_path / "t"))
    keys = (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.files.maxPartitionBytes",
    )
    before = {k: spark.conf.get(k) for k in keys}
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rounds = []
    try:
        for conf in ({}, {keys[0]: "1k"}, {keys[1]: "1k"}):
            for k, v in before.items():
                spark.conf.set(k, conf.get(k, v))
            ups = [_row(k, len(rounds) + 1, "u") for k in range(300, 310)]
            stages = _jobs(spark, "width", lambda: t.upsert(_df(spark, ups)))
            rounds.append((dict(t.last_key_exchange), stages[-1]))
            model.update((r[0], r) for r in ups)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    (small, small_stages), (wide, wide_stages), (split, split_stages) = rounds
    assert small["width"] == 1 and small_stages == 1
    assert wide["width"] == min(math.ceil(wide["bytes"] / 1024), cap) > 1
    assert split["bytes"] < 1 << 20 and split["width"] > 1
    assert wide_stages == split_stages == 3
    _check(spark, t, model)


def test_merge_join_broadcasts_a_small_source_unless_it_is_preserved(spark, tmp_path):
    """Planned statically, an inner or left MERGE join broadcasts a source
    whose plan-time size is small (a file scan here) instead of shuffling
    the target; a right or full join, whose source side is preserved,
    sort-merges."""
    t, _ = _cow(spark, str(tmp_path / "t"))
    _df(spark, [_row(k, 3, "m") for k in range(5)]).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))

    def plan(how: str) -> str:
        joined = t._merge_join(src, {"id": "id"}, how, ("target", "source"))
        return _static(joined)._jdf.queryExecution().executedPlan().toString()

    for how in ("inner", "left"):
        assert "BroadcastHashJoin" in plan(how) and "SortMergeJoin" not in plan(how), how
    for how in ("right", "full"):
        assert "SortMergeJoin" in plan(how) and "Broadcast" not in plan(how), how


def test_sources_with_joins_or_aggregates_keep_aqe(spark, tmp_path):
    """A source that joins or aggregates is planned on the caller's session
    with its AQE (the aggregate's stage runs as a job of its own when the
    batch is checkpointed); a plain source is planned statically."""
    rows = _df(spark, [_row(k, 1, "u") for k in range(300, 320)])
    other = _df(spark, [_row(k, 1) for k in range(300, 305)])
    assert not any(_adaptive(d) for d in (rows, rows.filter("ts > 0"), rows.localCheckpoint(False)))
    assert all(
        _adaptive(d)
        for d in (
            rows.join(other.select("id"), "id"),
            rows.groupBy("id").count(),
            rows.distinct(),
            rows.dropDuplicates(["id"]),
        )
    )
    t, model = _cow(spark, str(tmp_path / "t"))
    agg = rows.groupBy("id", "day").agg(F.max("ts").alias("ts"), F.max("v").alias("v"))
    jobs = _jobs(spark, "aggregate-source", lambda: t.upsert(agg))
    assert len(jobs) > 2, jobs
    model.update((r[0], r) for r in rows.select(*COLS).collect())
    _check(spark, t, model)


def test_engine_leaves_caller_conf_alone(spark, tmp_path):
    """AQE, shuffle width and a runtime time zone survive every write and
    service that runs engine queries."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone",
    )
    before = {k: spark.conf.get(k) for k in keys}
    pinned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "13",
        "spark.sql.session.timeZone": "Asia/Tokyo",
    }
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        t, _ = _cow(spark, str(tmp_path / "cow"))
        m = Table.create(
            spark, str(tmp_path / "mor"), SCHEMA,
            TableConfig(record_key=["id"], precombine="ts", partition_by=["day"], table_type="mor"),
        )
        m.insert(_df(spark, [_row(k, 0) for k in range(300)]))
        spark.createDataFrame([_row(k, 5, "m") for k in range(10)], SCHEMA).createOrReplaceTempView(
            "engine_conf_src"
        )
        ops = {
            "upsert": lambda: t.upsert(_df(spark, [_row(k, 1, "u") for k in range(490, 510)])),
            "delete": lambda: t.delete(_df(spark, [_row(k, 1) for k in range(0, 5)])),
            "write_cdc": lambda: t.write_cdc(
                _df(spark, [_row(510, 2) + ("I",), _row(6, 2) + ("D",)], ", _op STRING")
            ),
            "merge": lambda: t.merge(
                spark.table("engine_conf_src"),
                clauses=[
                    MergeClause("matched", "delete", condition="source.id = 'k000007'"),
                    MergeClause("matched", "update"),
                ],
            ),
            "create_record_index": t.create_record_index,
            "rebuild_index": lambda: t.rebuild_index(Table.RECORD_INDEX),
            "cluster_sort": lambda: t.cluster_sort(["id"]),
            "mor_upsert": lambda: m.upsert(_df(spark, [_row(k, 1, "u") for k in range(20)])),
            "compact": m.compact,
        }
        for name, op in ops.items():
            op()
            assert {k: spark.conf.get(k) for k in keys} == pinned, name
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_no_caller_conf_writes_under_table():
    """Static check: the only SQL conf writes under ``table/`` are the pins
    on the private clone, inside ``_engine_session``."""
    root = pathlib.Path(__file__).resolve().parent.parent / "hudi_examples_spark" / "table"
    writers, sessions = set(), set()
    for path in sorted(root.glob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                where = f"{path.name}:{fn.name}"
                if node.func.attr in ("set", "unset") and "conf" in ast.unparse(node.func.value):
                    writers.add(where)
                if node.func.attr in ("newSession", "cloneSession"):
                    sessions.add(where)
    assert writers == {"core.py:_engine_session"}
    assert sessions == {"core.py:_engine_session"}


# ------------------------------------------------- tombstone merge semantics


def _check(spark, t: Table, model: dict) -> None:
    assert _snapshot(Table(spark, t.base)) == model


def test_same_batch_delete_and_upsert_of_a_key(spark, tmp_path, layout):
    """The delete removes the stored version; the batch's upsert survives."""
    t, model = _cow(spark, str(tmp_path / "t"))
    up = _row(450, 1, "again")
    t.write_cdc(_df(spark, [up + ("U",), _row(450, 1) + ("D",), _row(451, 1) + ("D",)], ", _op STRING"))
    model[up[0]] = up
    del model[_key(451)]
    _check(spark, t, model)


def test_delete_of_an_absent_key_changes_nothing(spark, tmp_path, layout):
    t, model = _cow(spark, str(tmp_path / "t"))
    t.delete(_df(spark, [_row(9_999, 1), _row(8_888, 1, day="d004")]))
    _check(spark, t, model)
    t.delete(_df(spark, [_row(10_000, 1)]).select(F.col("id")))
    _check(spark, t, model)


def test_delete_beats_a_higher_precombine_stored_row(spark, tmp_path, layout):
    """A same-batch upsert with a LOWER precombine than the stored row still
    survives: the delete removed the stored row before the merge."""
    t, model = _cow(spark, str(tmp_path / "t"))
    hi = _row(300, 50, "stored-hi")
    t.upsert(_df(spark, [hi]))
    low = _row(300, 7, "batch-low")
    t.write_cdc(_df(spark, [low + ("U",), _row(300, 7) + ("D",)], ", _op STRING"))
    model[low[0]] = low
    _check(spark, t, model)


def test_partition_moving_upsert_under_global_index(spark, tmp_path, layout):
    t, model = _cow(spark, str(tmp_path / "t"))
    assert t.config.index_type == "global"
    moved = _row(120, 1, "moved", day="d004")
    t.write_cdc(_df(spark, [moved + ("U",), _row(121, 1) + ("D",)], ", _op STRING"))
    model[moved[0]] = moved
    del model[_key(121)]
    _check(spark, t, model)


def test_delete_only_batch(spark, tmp_path, layout):
    t, model = _cow(spark, str(tmp_path / "t"))
    gone = [_row(k, 1) for k in (5, 150, 151, 499)]
    t.delete(_df(spark, gone))
    for r in gone:
        del model[r[0]]
    _check(spark, t, model)


def test_delete_keyed_by_record_key_column_only(spark, tmp_path, layout):
    """A delete without the partition columns plans like any keyed commit:
    one planning collect and one rewrite at the driver-sized width."""
    t, model = _cow(spark, str(tmp_path / "t"))
    gone = [_key(k) for k in (10, 260, 261)]
    batch = spark.createDataFrame([(k,) for k in gone], "_hoodie_record_key STRING")
    jobs = _jobs(spark, "delete-by-key", lambda: t.delete(batch))
    assert len(jobs) <= 2 and jobs[-1] == (1 if layout == "one_task" else 3), jobs
    for k in gone:
        del model[k]
    _check(spark, t, model)


def test_keyless_delete_batch_is_rejected_before_any_job(spark, tmp_path):
    t, model = _cow(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame([("d001",)], "day STRING")

    def delete():
        with pytest.raises(ValueError, match=r"\['id'\]"):
            t.delete(batch)

    assert _jobs(spark, "keyless-delete", delete) == []
    _check(spark, t, model)
