"""The three benchmark workloads: closed loops with one client each.

A workload builds its inputs from the seed in ``setup``, runs one whole
unit of work per ``unit`` call, and checks the engine's results against an
independent model in ``finish``. Every timed call goes through
``Ops.op``; checks run outside those calls, so verification time stays out of
every metric.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.stats import median, tail


class Ops:
    """Log of the client's timed operations and of failed or wrong ones."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.samples: list[tuple[str, float]] = []
        self.units: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._unit_s = 0.0

    @contextmanager
    def op(self, kind: str, span_name: str | None = None, **tags):
        """Time one client operation; an exception counts it as failed and
        propagates to the loop, which abandons the rest of the unit."""
        self.attempted += 1
        name = span_name or "op." + kind
        span = self.tracer.span(name, **tags) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with span as sp:
                yield sp
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            raise
        finally:
            dt = time.perf_counter() - t0
            self.samples.append((kind, dt))
            self._unit_s += dt

    def check(self, ok: bool, what: str) -> None:
        """Count a wrong result against the operation it checked."""
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong result: {what}")

    def verify(self, ok: bool, what: str) -> None:
        """An end-of-run check is an attempted operation of its own."""
        self.attempted += 1
        self.check(ok, what)

    def end_unit(self) -> None:
        """Close one loop iteration and record its summed operation time."""
        self.units.append(self._unit_s)
        self._unit_s = 0.0

    def times(self, *kinds: str) -> list[float]:
        return [dt for k, dt in self.samples if k in kinds]

    def composed_cycle(self, mix: dict[str, float]) -> float:
        """Cost of one cycle composed from per-kind medians: the sum over
        ``mix`` of each kind's median latency times its count per cycle.
        It needs only one sample per kind, and a slow operation moves it
        by its share of the cycle instead of replacing the whole reading."""
        return sum(n * median(self.times(k)) for k, n in mix.items())


def _dir_sizes(base: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(base):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def _footer_rows(paths: list[str]) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths if p.endswith(".parquet"))


def _plan_done(sp) -> None:
    """Traced runs: mark the end of plan building on the operation's span."""
    if sp is not None:
        sp.tags["plan_s"] = time.perf_counter() - sp.t0


class KeyedTableWorkload:
    """Shared parts of the two table workloads: the table, its model, the
    byte accounting and the end-of-run snapshot check."""

    TABLE_TYPE = "cow"
    #: the table starts with ten batches' worth of inserts (see ``IngestCow``)
    PRELOAD = 10_000
    #: one day per batch of inserts, so a batch adds one day
    KEYS_PER_DAY = 1_000
    PARTITION_BY = ["day"]
    #: the operation kind that commits the workload's writes
    COMMIT_KIND = ""

    def __init__(self, spark, work: str, seed: int, ops: Ops):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ops = ops
        self.gen = datagen.KeyedRows(seed, self.KEYS_PER_DAY)
        self.table = None
        self.rows_applied = 0
        self.bytes_written = 0
        self._sizes: dict[str, int] = {}

    def _create(self, path: str):
        from hudi_examples_spark.table import Table, TableConfig

        return Table.create(
            self.spark, path, datagen.TABLE_DDL,
            TableConfig(record_key=["id"], precombine="ts", partition_by=self.PARTITION_BY,
                        table_type=self.TABLE_TYPE),
        )

    def _preload(self) -> float:
        """Create the table and load ``PRELOAD`` rows; returns its seconds."""
        rows = self.gen.preload(self.PRELOAD)
        t0 = time.perf_counter()
        self.table = self._create(os.path.join(self.work, "table"))
        self.table.insert(self.spark.createDataFrame(rows, datagen.TABLE_DDL))
        return time.perf_counter() - t0

    def start_accounting(self) -> None:
        """Count rows and bytes from here on (after set-up)."""
        self.rows_applied = 0
        self.bytes_written = 0
        self._sizes = _dir_sizes(self.table.base)

    def account_bytes(self) -> None:
        """Add the bytes of files that appeared or grew since the last call."""
        now = _dir_sizes(self.table.base)
        for p, size in now.items():
            grown = size - self._sizes.get(p, 0)
            if grown > 0:
                self.bytes_written += grown
        self._sizes = now

    def space_amp(self) -> float:
        files, _ = self.table.timeline.live_files()
        live = sum(os.path.getsize(os.path.join(self.table.base, r)) for r in files)
        total = sum(_dir_sizes(self.table.base).values())
        return total / live if live else 0.0

    def write_stats(self, sp, rows_changed: int) -> None:
        """Traced runs: files, bytes and footer rows of the newest data
        commit, stored on the operation's span."""
        if sp is None:
            return
        inst = self.table.timeline.completed_data_instants()[-1]
        paths = [os.path.join(self.table.base, r) for r in inst.files_added]
        sp.tags.update(
            files_written=len(paths),
            bytes_written=sum(os.path.getsize(p) for p in paths),
            rows_written=_footer_rows(paths),
            rows_changed=rows_changed,
        )

    def check_final(self) -> None:
        got = [tuple(r) for r in self.table.read().select(*datagen.TABLE_COLS).collect()]
        n_got, h_got = datagen.table_hash(got)
        n_exp, h_exp = datagen.table_hash(self.gen.model.values())
        self.ops.verify(
            (n_got, h_got) == (n_exp, h_exp),
            f"final snapshot: {n_got} rows hash {h_got:x}, expected {n_exp} rows hash {h_exp:x}",
        )

    def common_detail(self) -> dict:
        commits = self.ops.times(self.COMMIT_KIND)
        v, pct, n = tail(commits)
        write_time = sum(commits)
        return {
            "commit_s.p50": median(commits),
            "commit_s.tail": v,
            "commit_s.tail_pct": pct,
            "commit_s.n": n,
            "ingest_rows_per_s": self.rows_applied / write_time if write_time else 0.0,
            "write_bytes_per_row": self.bytes_written / self.rows_applied if self.rows_applied else 0.0,
            "space_amp": self.space_amp(),
        }


class IngestCow(KeyedTableWorkload):
    """CDC micro-batches through ``DeltaStreamer`` into a keyed COW table
    partitioned by a day column derived from the key, cleaned every cycle."""

    TABLE_TYPE = "cow"
    COMMIT_KIND = "ingest_cycle"
    CYCLE_MIX = {"ingest_cycle": 1}
    #: the reference's batch schedule (FIXTURES.md §3, its differential
    #: harness): 1000 inserts + 100 updates + 10 deletes per batch
    INSERTS = 1_000
    UPDATES = 100
    DELETES = 10
    #: clean retention in commits, half the engine's default of 10: the five
    #: warm-up cycles a fresh JVM needs before cycle times settle then also
    #: fill the window, where ten would double the warm-up. Clean's own cost
    #: is a few milliseconds a cycle at either size.
    CLEAN_RETAIN = 5

    def setup(self) -> dict[str, float]:
        from hudi_examples_spark.streaming.ingestion import DeltaStreamer

        preload = self._preload()
        self._seq = 0
        self._batch_rows = 0
        cdc_ddl = datagen.TABLE_DDL + ", _op STRING"

        def source():
            self._seq += 1
            rows = self.gen.cdc_batch(self._seq, self.INSERTS, self.UPDATES, self.DELETES)
            self._batch_rows = len(rows)
            return self.spark.createDataFrame(rows, cdc_ddl)

        # clean runs at the end of every cycle
        self.streamer = DeltaStreamer(self.table, source, op_col="_op",
                                      clean_retain=self.CLEAN_RETAIN)
        # warm up until the retention window is full, so the clean of every
        # measured cycle deletes files
        t0 = time.perf_counter()
        while len(self.table.timeline.completed_data_instants()) <= self.CLEAN_RETAIN:
            self.streamer.run_once()
        warmup = time.perf_counter() - t0
        self.start_accounting()
        return {"preload_s": preload, "warmup_s": warmup}

    def unit(self) -> None:
        """One poll/apply/clean cycle of the streamer."""
        with self.ops.op("ingest_cycle") as sp:
            self.streamer.run_once()
        self.rows_applied += self._batch_rows
        self.write_stats(sp, self._batch_rows)
        self.account_bytes()

    def finish(self) -> dict:
        self.check_final()
        return self.common_detail()


class MorMixed(KeyedTableWorkload):
    """SQL MERGE, snapshot aggregate, incremental read and record-index point
    lookup on a keyed MOR table, with inline compaction once per compaction
    period."""

    TABLE_TYPE = "mor"
    #: the non-partitioned corner of the reference's test matrix (FIXTURES.md
    #: §1: {cow, mor} x {partitioned, non}); uniformly drawn keys leave
    #: partition pruning nothing to skip
    PARTITION_BY: list[str] = []
    COMMIT_KIND = "merge"
    #: as many matched keys as a reference batch updates (FIXTURES.md §3),
    #: and three new keys per matched one, as in the reference's MERGE source
    #: (FIXTURES.md §2: one matching key, three new)
    MATCHED = 100
    NEW = 300
    #: the reference's compaction cadence in delta commits (SURVEY.md,
    #: BASELINE.md), also the engine's ``compact_every`` default
    COMPACT_EVERY = 5
    CYCLE_MIX = {"merge": 1, "snapshot_read": 1, "incremental_read": 1, "point_lookup": 1,
                 "compaction": 1 / COMPACT_EVERY}
    INCREMENTAL_BACK = 3
    READ_KINDS = ("snapshot_read", "incremental_read", "point_lookup")
    MERGE_SQL = (
        "MERGE INTO t AS target USING src AS source ON target.id = source.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )

    def setup(self) -> dict[str, float]:
        from hudi_examples_spark.sql import Engine

        preload = self._preload()
        t0 = time.perf_counter()
        self.table.create_record_index()
        index_s = time.perf_counter() - t0
        self.engine = Engine(self.spark, os.path.join(self.work, "warehouse"))
        self.engine.register("t", self.table)
        # (instant, write seq) of the preload and of every MERGE since
        self.writes = [(self.table.latest_instant(), 0)]
        self._seq = 0
        # one cycle and one compaction warm every code path and leave the
        # table freshly compacted, where each measured period starts; they
        # are checked like measured operations but timed nowhere
        measured, self.ops = self.ops, Ops()
        t0 = time.perf_counter()
        self._cycle()
        self._compact()
        warmup = time.perf_counter() - t0
        measured.attempted += self.ops.attempted
        measured.failed += self.ops.failed
        measured.errors += self.ops.errors
        self.ops = measured
        self.start_accounting()
        return {"preload_s": preload, "index_s": index_s, "warmup_s": warmup}

    def unit(self) -> None:
        """One whole compaction period: ``COMPACT_EVERY`` cycles, then the
        compaction. Runs stop only between periods, so every run sees the
        log-file counts of a whole period in the same proportions."""
        for _ in range(self.COMPACT_EVERY):
            self._cycle()
        self._compact()

    def _cycle(self) -> None:
        ops, t, gen = self.ops, self.table, self.gen
        self._seq += 1
        rows = gen.merge_batch(self._seq, self.MATCHED, self.NEW)
        self.spark.createDataFrame(rows, datagen.TABLE_DDL).createOrReplaceTempView("src")
        with ops.op("merge") as sp:
            self.engine.sql(self.MERGE_SQL)
        self.rows_applied += len(rows)
        self.writes.append((t.latest_instant(), self._seq))
        self.write_stats(sp, len(rows))

        with ops.op("snapshot_read") as sp:
            df = t.read()
            _plan_done(sp)
            agg = df.agg(F.count(F.lit(1)), F.sum("qty"), F.sum("amount")).collect()[0]
        exp = (
            len(gen.model),
            sum(r[3] for r in gen.model.values()),
            sum(r[4] for r in gen.model.values()),
        )
        ops.check(
            tuple(agg[:2]) == exp[:2] and abs(agg[2] - exp[2]) <= 1e-6 * max(1.0, abs(exp[2])),
            f"snapshot aggregate {tuple(agg)} != {exp}",
        )
        if sp is not None:
            files, _ = t.timeline.live_files()
            sp.tags["log_files_live"] = sum(1 for _, a in files.values() if a == "deltacommit")

        start, start_seq = self.writes[max(0, len(self.writes) - 1 - self.INCREMENTAL_BACK)]
        with ops.op("incremental_read") as sp:
            df = t.table_changes(start)
            _plan_done(sp)
            changes = df.select(*datagen.TABLE_COLS).collect()
        expected = [r for k, r in gen.model.items() if gen.changed_at[k] > start_seq]
        ops.check(
            datagen.table_hash(tuple(r) for r in changes) == datagen.table_hash(expected),
            f"incremental read since write {start_seq}: {len(changes)} rows, expected {len(expected)}",
        )

        key = gen.pick_live_key()
        with ops.op("point_lookup") as sp:
            df = t.lookup_key(key)
            _plan_done(sp)
            hit = df.select(*datagen.TABLE_COLS).collect()
        ops.check([tuple(r) for r in hit] == [gen.model[key]], f"lookup {key}: {hit} != {gen.model[key]}")
        self.account_bytes()

    def _compact(self) -> None:
        """Inline compaction of every log file written since the last one."""
        t = self.table
        with self.ops.op("compaction") as sp:
            inst = t.compact()
        if sp is not None and inst is not None:
            added = next(i for i in t.timeline.instants() if i.instant == inst).files_added
            sp.tags["bytes_rewritten"] = sum(os.path.getsize(os.path.join(t.base, r)) for r in added)
        self.account_bytes()

    def finish(self) -> dict:
        self.check_final()
        d = self.common_detail()
        v, pct, n = tail(self.ops.times(*self.READ_KINDS))
        d.update({
            "snapshot_read_s.p50": median(self.ops.times("snapshot_read")),
            "incremental_read_s.p50": median(self.ops.times("incremental_read")),
            "point_lookup_s.p50": median(self.ops.times("point_lookup")),
            "read_s.tail": v,
            "read_s.tail_pct": pct,
            "read_s.n": n,
            "compaction_s.p50": median(self.ops.times("compaction")),
        })
        return d


#: bench.py's v1 headline set without its tbl_* lifecycles, in its order
ANALYTICS_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "w_latest_per_key",
    "a_topk_two_keys",
    "j_merge_full_outer",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_stats",
    "sim_knn_join",
    "q2_min_cost_supplier",
    "j_asof_join",
    "fp_winnowing",
    "dedup_embed_cosine",
]


def _cell(v):
    """Canonical form of one result cell for the oracle comparison."""
    import datetime
    import decimal

    import pandas as pd

    if v is None:
        return None
    if isinstance(v, float) and v != v:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bool, int)):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        # a nullable integer column arrives as float on one side
        return str(int(v)) if v.is_integer() and abs(v) < 2**53 else format(v, ".9g")
    return str(v)


def result_rows(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, sorted canonical rows) of a pandas result."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in rec) for rec in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


class Analytics:
    """The 16 read-only queries over seeded sf tables, each materialized
    through the noop sink; one pass over all of them is one cycle."""

    SF = 0.01
    CYCLE_MIX = {q: 1 for q in ANALYTICS_QUERIES}
    #: passes per unit. The first passes after the warm-up one still speed
    #: up, and a single pass reads up to 1.7 times its usual time when the
    #: host slows for a few seconds, so a unit holds two and every run
    #: measures the same two passes: a unit outlasts the run's measuring time.
    PASSES_PER_UNIT = 2

    def __init__(self, spark, work: str, seed: int, ops: Ops):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ops = ops

    def setup(self) -> dict[str, float]:
        from hudi_examples_spark import registry

        t0 = time.perf_counter()
        self.sf_dir = os.path.join(self.work, "sf")
        self.table_rows = datagen.write_analytics_tables(self.sf_dir, self.seed, self.SF)
        datagen_s = time.perf_counter() - t0
        specs = {s.name: s for s in registry.all_specs()}
        self.specs = [specs[n] for n in ANALYTICS_QUERIES]
        self.oracles = registry.oracles_dict()
        # the warm-up pass collects each result for the end-of-run oracle
        # check, so the check does not run the queries a second time
        t0 = time.perf_counter()
        self.results = {spec.name: spec.fn(self.spark, self.sf_dir).toPandas() for spec in self.specs}
        return {"datagen_s": datagen_s, "warmup_s": time.perf_counter() - t0}

    def unit(self) -> None:
        """``PASSES_PER_UNIT`` passes over the 16 queries."""
        for spec in self.specs * self.PASSES_PER_UNIT:
            with self.ops.op(spec.name, span_name="op.query", query=spec.name) as sp:
                df = spec.fn(self.spark, self.sf_dir)
                _plan_done(sp)
                if sp is not None:
                    sp.tags["plan_jobs_hi"] = self.ops.tracer.job_mark()
                df.write.format("noop").mode("overwrite").save()

    def finish(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
            for name in self.table_rows:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            for spec in self.specs:
                try:
                    got = result_rows(self.results[spec.name])
                    exp = result_rows(con.execute(self.oracles[spec.name]).df())
                    ok = got == exp
                    what = f"{spec.name}: {len(got[1])} rows vs oracle {len(exp[1])}, columns {got[0]} vs {exp[0]}"
                except Exception:
                    ok, what = False, f"{spec.name}: {traceback.format_exc(limit=2)}"
                self.ops.verify(ok, what)
        finally:
            con.close()
        return {"analytics_pass_s.p50": self.ops.composed_cycle(self.CYCLE_MIX)}


WORKLOADS = {"ingest_cow": IngestCow, "mor_mixed": MorMixed, "analytics": Analytics}

