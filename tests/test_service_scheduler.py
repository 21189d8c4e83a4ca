"""In-process async table services (``ServiceScheduler``): the daemon-thread
half of Hudi's service story (DeltaStreamer ``--continuous`` runs compaction
async next to ingest — ``DeltaStreamerExample.scala:52-65``). The
cross-process cadence is proven in test_services_soak.py; here we prove the
in-process cadence: services fire on schedule WHILE the same session writes,
the final state equals a no-services sequential replay, compaction actually
happened, and a failing pass is recorded — never raised into the writer.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from hudi_examples_spark.table import ServiceScheduler, Table, TableConfig

SCHEMA = "k BIGINT, val DOUBLE, seg STRING, v INT"
CFG = dict(
    record_key=["k"],
    precombine="v",
    partition_by=["seg"],
    table_type="mor",
    bloom_index=True,
)
N = 600


def _batch(spark, b: int):
    return spark.range(N).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5 + b).alias("val"),
        F.concat(F.lit("s"), F.col("id") % 3).alias("seg"),
        F.lit(b + 1).alias("v"),
    )


#: hard cap on the upserts a scheduler test writes while waiting for a pass
MAX_BATCHES = 20


def _await_passes(sched, n: int, timeout: float = 120.0) -> None:
    """Wait until the scheduler has finished ``n`` passes in all."""
    deadline = time.monotonic() + timeout
    while len(sched.reports) + len(sched.errors) < n and time.monotonic() < deadline:
        time.sleep(0.05)


def test_scheduler_services_run_alongside_writes(spark, tmp_path):
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    tbl.insert(_batch(spark, 0))

    # archive_retain above the batch cap keeps every instant on the timeline
    # (the initial base-file "commit" included) however long the loop runs
    sched = ServiceScheduler(
        spark,
        tbl.base,
        interval_seconds=0.5,
        compact_after=2,
        clean_retain=5,
        archive_retain=2 * MAX_BATCHES,
    )
    # passes run during every upsert; a compaction planned while an upsert
    # is in flight is voided when that upsert publishes (a late publisher),
    # so after each upsert the writer waits for two more passes (the second
    # starts after the write) and keeps writing (at least 5 batches) until a
    # pass has compacted
    batches = 0
    with sched:
        while batches < 5 or (
            batches < MAX_BATCHES and not any(r.get("compacted") for r in sched.reports)
        ):
            batches += 1
            Table(spark, tbl.base).upsert(_batch(spark, batches))
            _await_passes(sched, len(sched.reports) + len(sched.errors) + 2)
    assert sched.errors == []
    assert len(sched.reports) >= 1

    # compaction fired via the cadence (run_services reports it, and the
    # timeline carries the resulting commit instants)
    compactions = [r for r in sched.reports if r.get("compacted")]
    actions = [i.action for i in Table(spark, tbl.base).timeline.completed_data_instants()]
    assert compactions and "commit" in actions

    # final state identical to a sequential no-services replay
    seq = Table.create(spark, str(tmp_path / "seq"), SCHEMA, TableConfig(**CFG))
    for b in range(batches + 1):
        seq.upsert(_batch(spark, b))
    got = sorted(map(tuple, Table(spark, tbl.base).read().collect()))
    want = sorted(map(tuple, seq.read().collect()))
    assert len(got) == N and got == want


def test_scheduler_passes_leave_writer_session_conf_alone(spark, tmp_path):
    """Service passes run static planning queries beside the writer's
    upserts on the same session; they pin AQE off and narrow the shuffle
    width only on private clones, so a fast cadence beside MOR upserts
    leaves the writer session with its configured conf."""
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    tbl.insert(_batch(spark, 0))
    # record-index maintenance and rebuilds toggle the conf on both sides
    tbl.create_record_index()
    conf = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    configured = [spark.sparkContext.getConf().get(k) for k in conf]

    seen = []
    with ServiceScheduler(spark, tbl.base, interval_seconds=0.05, compact_after=2) as sched:
        for b in range(1, 9):
            Table(spark, tbl.base).upsert(_batch(spark, b))
            seen.append([spark.conf.get(k) for k in conf])
    assert sched.errors == [] and len(sched.reports) >= 1
    assert seen == [configured] * 8
    assert [spark.conf.get(k) for k in conf] == configured
    rows = Table(spark, tbl.base).read().collect()
    assert len(rows) == N and {r["v"] for r in rows} == {9}


def test_scheduler_passes_see_host_runtime_conf(spark, tmp_path, monkeypatch):
    """Passes run on the host's session, so a runtime SQL conf set on the
    host (here the time zone) is what a pass's table handle sees."""
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    tbl.insert(_batch(spark, 0))
    seen = []
    run_services = Table.run_services

    def spy(self, **policy):
        seen.append(self.spark.conf.get("spark.sql.session.timeZone"))
        return run_services(self, **policy)

    monkeypatch.setattr(Table, "run_services", spy)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        sched = ServiceScheduler(spark, tbl.base, interval_seconds=3600)
        assert sched.run_once() is not None and sched.errors == []
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert seen == ["Asia/Tokyo"]


def test_scheduler_lifecycle_and_run_once(spark, tmp_path):
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    tbl.insert(_batch(spark, 0))
    sched = ServiceScheduler(spark, tbl.base, interval_seconds=3600)

    # run_once is the deterministic entry point — full report, no thread
    report = sched.run_once()
    assert report is not None and set(report) >= {"healed", "cleaned", "archived"}

    # start/stop is idempotent and double-start is refused
    sched.start()
    try:
        sched.start()
        raise AssertionError("second start() must raise")
    except RuntimeError:
        pass
    reports = sched.stop()
    assert reports == sched.stop() == sched.reports  # idempotent stop


def test_scheduler_records_failures_instead_of_raising(spark, tmp_path, monkeypatch):
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**CFG))
    tbl.insert(_batch(spark, 0))

    def boom(self, **kw):
        raise RuntimeError("synthetic service failure")

    monkeypatch.setattr(Table, "run_services", boom)
    sched = ServiceScheduler(spark, tbl.base, interval_seconds=0.1, max_passes=2)
    sched.start()
    time.sleep(0.6)
    reports = sched.stop()
    assert reports == []
    assert len(sched.errors) >= 1
    assert all(isinstance(e, RuntimeError) for e in sched.errors)
