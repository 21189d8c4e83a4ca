"""Keyed, partitioned, multi-version table: COW + MOR write paths over parquet.

Semantics parity with the reference (citations into /root/reference):

- record key + precombine + hive-style partitioning — ``TestAutomationUtils.scala:92-95``
- COW vs MOR table types — ``spark/scripts/configs/{cow,mor}_*.props:2``
- meta columns per row — ``TestAutomationUtils.scala:50,58,73`` (HOODIE_META_COLUMNS)
- upsert/insert/delete/overwrite ops — ``TestAutomationUtils.scala:32,42-48``, ``Job.py:116``
- MERGE matched-update / matched-delete / not-matched-insert —
  ``spark/sql/quickstart.sql:58-63``, ``Job.py:125-133``
- UPDATE/DELETE ... WHERE — ``quickstart.sql:44,69-71``
- time travel, 3 timestamp formats — ``quickstart.sql:74-77``
- incremental query (latest_state over a commit range) — ``quickstart.sql:80-86``
- CDC row kinds (I/U/D through one sink) — ``HudiDataStreamWriter.java:170-182``
- compaction / cleaning / rollback / upgrade-downgrade —
  ``DeltaStreamerExample.scala:46-55``, ``compatibility_test.sh:155-186``,
  ``DowngradeTable.scala:20-40``
- bucket count / clustering resize — ``flink/src/main/sql/consistent_hashing.sql:44-49``

Scale design (100 TB):
- Writes only rewrite **touched partitions** (COW) or append **log files** (MOR);
  untouched file groups are carried by manifest reference, never copied.
- The only driver-side collect in the write path is the distinct partition list of
  the incoming batch (bounded by partition cardinality, not data size).
- Merge/dedup use hash-partitioned window functions keyed on the record key — one
  shuffle; incoming-vs-existing resolution, deletes included, happens in the same
  pass (``_merge_cow``), sized and run statically on an engine session
  (``_engine_session``).
- Readers get an explicit live-file list (no directory LIST storms) with
  ``basePath`` so hive partition columns survive and partition pruning still applies.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re as _re
import shutil
import time as _time
from dataclasses import asdict, dataclass, field
from dataclasses import fields as dataclass_fields

from py4j.java_gateway import JavaClass
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StringType, StructField, StructType
from pyspark.sql.window import Window


#: printable ASCII minus backslash and single quote — values outside this set
#: ship hex-encoded so arbitrary record keys can never break the SQL literal
_SQL_LIT_SAFE = _re.compile(r"^[\x20-\x26\x28-\x5b\x5d-\x7e]*$")


def _sql_str_lit(s: str) -> str:
    """A string value as a Spark SQL literal expression (for F.expr-built
    literal tables). Safe ASCII quotes directly; anything else — quotes,
    backslashes, control chars, non-ASCII — rides as hex through
    decode(unhex(...)), which Catalyst constant-folds once at plan time."""
    if _SQL_LIT_SAFE.fullmatch(s):
        return f"'{s}'"
    return f"decode(unhex('{s.encode('utf-8').hex()}'),'UTF-8')"


def _sql_ident(name: str) -> str:
    """A column name as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_map_lit(items) -> str:
    """(key, value) pairs as a Spark SQL ``map(...)`` literal string (values
    may be str or int). One F.expr parse replaces 2N F.lit py4j round-trips —
    at ~2 ms per round-trip that is the difference between a map literal being
    free and costing ~0.1 s per plan on a 50-instant table."""
    parts = []
    for k, v in items:
        parts.append(_sql_str_lit(k))
        parts.append(_sql_str_lit(v) if isinstance(v, str) else str(int(v)))
    return "map(" + ",".join(parts) + ")"


#: shuffle width of the engine's planning queries: every exchange in one
#: carries only DISTINCT metadata values (partition paths, file names —
#: partial aggregation runs upstream of the exchange), so a data-scale width
#: would just schedule empty tasks
PLANNING_SHUFFLE_PARTITIONS = 8


def _engine_session(spark: SparkSession, planning: bool = False):
    """A private JVM session for one engine query: ``cloneSession()`` of the
    caller's session with AQE pinned off. The only place the engine writes
    SQL conf — on the clone, never on the caller's session.

    Why static: AQE materializes every query stage as its own Spark job, so
    a metadata-sized planning collect or a small commit's rewrite pays 3-6
    driver round-trips where a static plan needs one. The engine-planned
    queries give AQE nothing to decide: their exchanges are sized by the
    driver (the planning width, a keyed rewrite's key width) or hash on a
    hive-partition value, which lands wholly in one task either way. What
    the engine does NOT build — a caller's join or aggregate — stays on the
    caller's session (``_adaptive``). ``planning`` also pins the shuffle
    width to ``PLANNING_SHUFFLE_PARTITIONS``; otherwise the clone keeps the
    caller's.

    A clone (not ``newSession()``) keeps the caller's RUNTIME conf — time
    zone, parquet flags, shuffle width — so a query means the same thing on
    both sessions; it costs about 0.6 ms (about 1 ms for a whole
    ``_static``, measured on a 4-core host). The caller's conf is never
    touched, so concurrent writers on one session (a host and its
    ``ServiceScheduler``) cannot leave each other's AQE off."""
    clone = spark._jsparkSession.cloneSession()
    conf = clone.conf()
    conf.set("spark.sql.adaptive.enabled", "false")
    if planning:
        conf.set("spark.sql.shuffle.partitions", str(PLANNING_SHUFFLE_PARTITIONS))
    return clone


def _on_session(jss, df: DataFrame) -> DataFrame:
    """``df``'s analyzed plan as a DataFrame of the JVM session ``jss``. The
    plan moves as it is — a checkpointed batch (``LogicalRDD``), a temp-view
    join or a file scan resolve nothing again there."""
    of_rows = _of_rows(df._jdf._gateway_client)
    return DataFrame(of_rows(jss, df._jdf.queryExecution().analyzed()), df.sparkSession)


def _static(df: DataFrame, planning: bool = False) -> DataFrame:
    """``df`` on a fresh ``_engine_session``: an action on the result runs
    as one static Spark job."""
    return _on_session(_engine_session(df.sparkSession, planning), df)


def _checkpoint(df: DataFrame, static: bool | None = None) -> DataFrame:
    """A lazy ``localCheckpoint`` of ``df``, handed back on ``df``'s own
    session. A checkpoint builds its physical plan when it is called, and
    under AQE that runs the stage job of every exchange in the batch's plan
    right then; planned statically, the whole plan runs inside the first job
    that reads the blocks. ``static`` (default: ``df`` holds no join or
    aggregate, ``_adaptive``) picks the static plan on an engine session;
    otherwise the caller's session plans it, with whatever AQE it runs."""
    if static is None:
        static = not _adaptive(df)
    if not static:
        return df.localCheckpoint(eager=False)
    ckpt = _static(df).localCheckpoint(eager=False)
    return _on_session(df.sparkSession._jsparkSession, ckpt)


def _adaptive(df: DataFrame) -> bool:
    """Whether ``df``'s plan holds a join or an aggregate (distinct
    included): the operators whose exchanges AQE shapes from runtime sizes
    (skew-join splits, broadcast conversion, partition coalescing). A plan
    holding one — a caller's source not yet checkpointed, an IVM refresh's
    joins, a pk-less delete's anti join — runs on the caller's session; a
    static plan would fix those choices from estimates before any stage
    ran. Reads the plan's tree-pattern bits; no plan walk."""
    plan = df._jdf.queryExecution().analyzed()
    return any(plan.containsPattern(p) for p in _adaptive_patterns(df._jdf._gateway_client))


@functools.lru_cache(maxsize=1)
def _adaptive_patterns(gateway_client) -> tuple:
    tp = JavaClass("org.apache.spark.sql.catalyst.trees.TreePattern", gateway_client)
    return tp.JOIN(), tp.AGGREGATE(), tp.DISTINCT_LIKE()


@functools.lru_cache(maxsize=1)
def _byte_string(gateway_client):
    """Spark's own parser of byte-size conf values ("64MB", "67108864b")."""
    return JavaClass("org.apache.spark.network.util.JavaUtils", gateway_client).byteStringAsBytes


#: parquet footer row counts by (path, size, mtime_ns). Table files are
#: never rewritten in place, so an entry cannot go stale; ``_write_files``
#: fills it for every file it promotes, so a keyed commit's candidate files
#: (mostly the previous commits' output) cost no footer read
_FILE_ROWS: dict[tuple, int] = {}


def _remember_rows(st: os.stat_result, path: str, rows: int) -> None:
    if len(_FILE_ROWS) >= 1 << 16:
        _FILE_ROWS.clear()
    _FILE_ROWS[(path, st.st_size, st.st_mtime_ns)] = rows


def _file_rows(path: str, st: os.stat_result) -> int:
    rows = _FILE_ROWS.get((path, st.st_size, st.st_mtime_ns))
    if rows is None:
        import pyarrow.parquet as pq

        rows = pq.read_metadata(path).num_rows
        _remember_rows(st, path, rows)
    return rows


@functools.lru_cache(maxsize=1)
def _of_rows(gateway_client):
    """The JVM ``classic.Dataset.ofRows``, resolved once per gateway instead
    of a py4j round-trip per package segment and per member lookup."""
    return JavaClass("org.apache.spark.sql.classic.Dataset", gateway_client).ofRows


#: integer widening lattice for Hudi-style type promotion
_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}


def _sweep_broken_locks(path: str, ttl_seconds: float) -> None:
    """Opportunistically remove orphaned ``<path>.broken.*`` files — a breaker
    that crashed between its rename and unlink — once they age past the TTL."""
    import time as _time

    d, base = os.path.split(path)
    prefix = base + ".broken."
    try:
        for name in os.listdir(d or "."):
            if name.startswith(prefix):
                p = os.path.join(d, name)
                try:
                    if _time.time() - os.path.getmtime(p) > ttl_seconds:
                        os.unlink(p)
                except OSError:
                    pass
    except OSError:
        pass


def _break_stale_lock(path: str, ttl_seconds: float) -> bool:
    """Break ``path`` if stale (mtime past TTL; a holder that died
    mid-publish), by RENAME, not unlink: waiters that both judge the lock
    stale race the rename and exactly one wins (the losers' renames raise),
    so a freshly re-created lock can never be deleted out from under its new
    holder — the TOCTOU a naive check-then-unlink has.

    A narrower race remains: the slow-but-live holder releases and a NEW
    waiter acquires inside the judge→rename window, so the rename displaces a
    fresh live lock. Detected by comparing the renamed file's identity
    (inode+mtime) against the one judged stale; on mismatch the fresh lock is
    restored atomically via link (a no-op if a third party already re-created
    the path — the displaced holder's inode-checked release stays harmless)
    and the breaker backs off. Returns True iff a genuinely stale lock was
    broken."""
    import time as _time

    try:
        st = os.stat(path)
        if _time.time() - st.st_mtime <= ttl_seconds:
            return False
        broken = f"{path}.broken.{os.getpid()}.{int(_time.time() * 1e6)}"
        os.rename(path, broken)  # single winner; losers raise
    except OSError:
        return False  # holder released / another waiter won the rename
    try:
        bst = os.stat(broken)
        displaced_fresh = (bst.st_ino, bst.st_mtime) != (st.st_ino, st.st_mtime)
    except OSError:
        return False
    if displaced_fresh:
        restored = True
        try:
            os.link(broken, path)  # atomic restore of the live lock
        except OSError:
            # a third party re-created the path inside the window: restore
            # lost. Keep the broken file (the TTL sweeper reclaims it) — the
            # displaced holder's publish-time inode re-check will abort it,
            # so the two holders can never both commit.
            restored = False
        if restored:
            try:
                os.unlink(broken)
            except OSError:
                pass
        return False
    try:
        os.unlink(broken)
    except OSError:
        pass
    return True


def _acquire_lock(path: str, ttl_seconds: float, timeout_seconds: float) -> int:
    """O_EXCL filesystem lock with crash-recovery expiry (see
    ``_break_stale_lock``). Returns the open fd; release with
    ``_release_lock`` (inode-checked, never deletes another holder's lock).
    The wait deadline must exceed the TTL or a slow-but-live holder would
    time every waiter out before expiry can ever break the lock."""
    import time as _time

    timeout_seconds = max(timeout_seconds, ttl_seconds + 10.0)
    deadline = _time.time() + timeout_seconds
    swept = False
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, json.dumps({"pid": os.getpid(), "ts": _time.time()}).encode())
            return fd
        except FileExistsError:
            if not swept:
                swept = True
                _sweep_broken_locks(path, ttl_seconds)
            if _break_stale_lock(path, ttl_seconds):
                continue
            if _time.time() > deadline:
                raise TimeoutError(f"lock held too long: {path}")
            _time.sleep(0.05)


def _release_lock(fd: int, path: str) -> None:
    """Close + unlink — but only unlink the lock file WE created: if a breaker
    displaced this lock and another holder re-created the path, a blind
    unlink would delete the new holder's lock."""
    try:
        ours = os.fstat(fd).st_ino
        try:
            if os.stat(path).st_ino == ours:
                os.unlink(path)
        except OSError:
            pass
    finally:
        os.close(fd)


def _promotes(declared, batch) -> bool:
    """True iff ``batch`` is a SAFE widening of ``declared`` — i.e. the table
    schema may be promoted to the batch type and parquet files already written
    at the narrower declared type remain readable under the wider read schema
    (the Spark 4 vectorized parquet reader supports exactly these widened
    reads: int upcasts, int→double, float→double, decimal growth)."""
    from pyspark.sql.types import DecimalType

    d, b = declared.typeName(), batch.typeName()
    if d in _INT_RANK and b in _INT_RANK:
        return _INT_RANK[b] > _INT_RANK[d]
    if b == "double" and d in ("float", "byte", "short", "integer"):
        return True
    if isinstance(declared, DecimalType) and isinstance(batch, DecimalType):
        return (
            (batch.precision, batch.scale) != (declared.precision, declared.scale)
            and batch.scale >= declared.scale
            and batch.precision - batch.scale >= declared.precision - declared.scale
        )
    return False

from hudi_examples_spark.sparkutil import free_local_checkpoint
from hudi_examples_spark.table.timeline import (
    TIMELINE_DIR,
    Instant,
    Timeline,
    new_instant,
    normalize_as_of,
)

META_COMMIT = "_hoodie_commit_time"
META_KEY = "_hoodie_record_key"
META_PARTITION = "_hoodie_partition_path"
META_DELETED = "_hoodie_is_deleted"
#: column list carried by PARTIAL-update log rows (null ⇒ full row). Lets the
#: column-level merge distinguish "column not provided" from "set to null".
META_PARTIAL = "_hoodie_partial_cols"
META_COLS = (META_COMMIT, META_KEY, META_PARTITION)

PROPS_FILE = "_props.json"
#: index dir names double as filesystem paths — keep them shell/FS-safe
_INDEX_NAME_RE = _re.compile(r"^[A-Za-z0-9_]+$")
BUCKET_COL = "__bucket"
#: hash ring size for consistent-hash (range) bucket routing
BUCKET_RING = 1 << 32


class ConcurrentWriteConflict(RuntimeError):
    """Raised at publish time when OCC detects a conflicting concurrent commit.

    The losing writer's data files stay unreferenced (readers are manifest-
    driven and never see them; ``heal``/orphan cleanup reclaims the space) —
    retry the operation from a fresh snapshot.
    """


#: the actions each kind of MERGE clause may take
_MERGE_ACTIONS = {
    "matched": ("update", "delete"),
    "not_matched": ("insert",),
    "not_matched_by_source": ("update", "delete"),
}


@dataclass(frozen=True)
class MergeClause:
    """One ``WHEN`` clause of :meth:`Table.merge`.

    ``when`` is ``"matched"`` (a target row with a source row),
    ``"not_matched"`` (a source row without a target row) or
    ``"not_matched_by_source"`` (a target row without a source row).
    ``action`` is ``"update"`` or ``"delete"`` for the first and last,
    ``"insert"`` for ``not_matched``. ``assignments`` maps target columns to
    SQL expressions; ``None`` means every column from the source
    (``UPDATE SET *`` / ``INSERT *``). ``condition`` and the expressions name
    columns through the merge's target and source aliases
    (``target.fare``, ``source.fare``)."""

    when: str
    action: str
    assignments: dict[str, str] | None = None
    condition: str | None = None

    def __post_init__(self):
        if self.action not in _MERGE_ACTIONS.get(self.when, ()):
            raise ValueError(f"unsupported MERGE clause: WHEN {self.when} THEN {self.action}")
        if self.action == "delete" and self.assignments is not None:
            raise ValueError("a MERGE DELETE takes no assignments")
        if self.when == "not_matched_by_source" and self.action == "update" and not self.assignments:
            raise ValueError("WHEN NOT MATCHED BY SOURCE THEN UPDATE needs explicit assignments")


#: Highest table_version this engine can open (Hudi 1.0's own table version is
#: 8). Features whose config is LOAD-BEARING (bootstrap_instant) set the
#: table's version to their floor so older engines refuse rather than misread.
SUPPORTED_TABLE_VERSION = 8
#: table_version floor stamped by ``Table.bootstrap`` (bootstrap-aware readers)
BOOTSTRAP_TABLE_VERSION = 7


@dataclass
class TableConfig:
    record_key: list[str] = field(default_factory=list)  # empty ⇒ pk-less table
    precombine: str | None = None
    partition_by: list[str] = field(default_factory=list)
    table_type: str = "cow"  # "cow" | "mor"
    n_buckets: int | None = None  # bucket-index file-group routing
    table_version: int = 6
    #: columns to record per-file min/max for at write time (col-stats index —
    #: the data-skipping analogue of Hudi's metadata col_stats partition);
    #: Table.scan() prunes files with these before Spark ever opens them
    stats_cols: list[str] = field(default_factory=list)
    #: key-index scope (Hudi ``hoodie.index.type`` GLOBAL_SIMPLE vs SIMPLE):
    #: "global" locates incoming keys across ALL partitions (an upsert that
    #: changes a partition column MOVES the record); "partition" trusts the
    #: batch's own partition values and skips the location scan entirely —
    #: O(batch) planning, but a partition-changing upsert leaves the old row
    #: in place (exactly Hudi's non-global index contract).
    index_type: str = "global"
    #: per-file record-key bloom filters (the filter phase of Hudi's BLOOM
    #: index, ``hoodie.index.type=BLOOM`` — the default the reference
    #: quickstart writes with). The range index above prunes clustered keys;
    #: blooms prune when keys are uniformly random (UUIDs) and every file's
    #: [min, max] spans the key space. Sidecars in ``_blooms/``, probed via a
    #: broadcast + mapPartitions over the incoming keys (never collected).
    bloom_index: bool = False
    bloom_fpp: float = 1e-4
    #: marker-based early conflict detection (Hudi
    #: ``hoodie.write.concurrency.early.conflict.detection.enable``): COW
    #: writers drop a plan marker before the merge job and fail fast when an
    #: in-flight writer's marker overlaps their footprint — aborting BEFORE
    #: the rewrite burns cluster hours, instead of at publish OCC. Best-
    #: effort by design (publish OCC stays the correctness gate, exactly as
    #: in Hudi): a lost marker race is caught at publish like today.
    early_conflict_detection: bool = False
    #: bumped on every schema evolution; while 0 every live file shares the
    #: declared schema, so reads skip parquet mergeSchema (whose footer-merge
    #: costs a Spark job per read) — evolved tables pay it, fresh ones don't
    schema_version: int = 0
    #: file-sizing cap (Hudi ``hoodie.parquet.max.file.size`` analogue): the
    #: writer rolls to a new file past this many records, so a hive partition
    #: written by one task still yields bounded-size files at any scale
    max_records_per_file: int = 5_000_000
    #: consistent-hash bucket routing (Hudi BUCKET index, CONSISTENT_HASHING
    #: engine — ``consistent_hashing.sql:44-49``): sorted lower boundaries of
    #: hash-ring ranges over [0, BUCKET_RING); a bucket's identity is its
    #: lower boundary, so SPLITTING one bucket (inserting a midpoint) leaves
    #: every other bucket's id — and files — untouched. Takes precedence over
    #: the modulo routing of ``n_buckets`` when set.
    bucket_ranges: list[int] | None = None
    #: rename log, ordered [from, to] pairs (chains preserved: a→b then b→c
    #: stays two entries). Reads coalesce a renamed column with every
    #: historical name so files written before the rename keep their data;
    #: ``_merge_disk_schema`` replays the log so stale handles adopt renames.
    renames: list = field(default_factory=list)
    #: tombstones for dropped columns: the by-name schema union would
    #: otherwise resurrect a dropped column from an older handle's props
    dropped_cols: list = field(default_factory=list)
    #: instant of the table's bootstrap commit (Hudi ``hoodie.bootstrap.*``,
    #: METADATA_ONLY mode): set once by ``Table.bootstrap``. Bootstrap data
    #: files carry NO ``_hoodie_*`` columns — the read funnel synthesizes
    #: them (commit = this instant, key/partition from the data), the
    #: projection-level analogue of Hudi's skeleton-file stitch. None for
    #: natively-written tables, which skip the synthesis entirely.
    bootstrap_instant: str | None = None

    def __post_init__(self):
        if self.table_type not in ("cow", "mor"):
            raise ValueError(f"table_type must be cow|mor, got {self.table_type}")
        if self.index_type not in ("global", "partition"):
            raise ValueError(f"index_type must be global|partition, got {self.index_type}")
        if self.bucket_ranges is not None:
            bs = self.bucket_ranges
            if not bs or bs[0] != 0 or bs != sorted(set(bs)) or bs[-1] >= BUCKET_RING:
                raise ValueError(
                    "bucket_ranges must be sorted unique lower bounds starting at 0, below BUCKET_RING"
                )


class Table:
    """One keyed multi-version table rooted at ``base``."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        self.timeline = Timeline(base)
        with open(os.path.join(base, PROPS_FILE)) as f:
            d = json.load(f)
        # forward-compat: a handle built from older code must still open a
        # table whose props a NEWER writer rewrote with config keys this
        # version doesn't know (rolling upgrades; mixed-version writers under
        # OCC). Unknown keys are index/layout hints by design contract — every
        # feature they gate degrades to "don't prune / don't optimize", never
        # to wrong data — so dropping them is safe where crashing is not.
        # LOAD-BEARING config (keys whose loss would misread data, e.g.
        # bootstrap_instant — without it bootstrap files' meta columns can't
        # be synthesized) must instead ride the table_version gate below:
        # writers of such features bump the version past what older code
        # supports, so old readers refuse the table instead of misreading it
        # (Hudi's own table-version upgrade contract).
        if d["config"].get("table_version", 6) > SUPPORTED_TABLE_VERSION:
            raise ValueError(
                f"table at {base} has version {d['config'].get('table_version')}, "
                f"newer than this engine supports ({SUPPORTED_TABLE_VERSION}); "
                "upgrade the engine or downgrade the table"
            )
        known = {f.name for f in dataclass_fields(TableConfig)}
        self.config = TableConfig(**{k: v for k, v in d["config"].items() if k in known})
        self.schema = StructType.fromJson(d["schema"])

    # ------------------------------------------------------------------ create

    @classmethod
    def create(
        cls, spark: SparkSession, base: str, schema: StructType | str, config: TableConfig
    ) -> "Table":
        """M1: CREATE TABLE — declared schema + table properties."""
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        os.makedirs(base, exist_ok=True)
        props_path = os.path.join(base, PROPS_FILE)
        if os.path.exists(props_path):
            raise ValueError(f"table already exists at {base}")
        if config.precombine and config.precombine not in schema.names:
            raise ValueError(f"precombine field {config.precombine} not in schema")
        for k in config.record_key + config.partition_by:
            if k not in schema.names:
                raise ValueError(f"field {k} not in schema")
        with open(props_path, "w") as f:
            json.dump({"config": asdict(config), "schema": schema.jsonValue()}, f, indent=1)
        return cls(spark, base)

    @classmethod
    def create_as(
        cls, spark: SparkSession, base: str, df: DataFrame, config: TableConfig
    ) -> "Table":
        """M6: CTAS — create from a query result and bulk-insert it."""
        tbl = cls.create(spark, base, df.schema, config)
        tbl.insert(df)
        return tbl

    @classmethod
    def bootstrap(
        cls,
        spark: SparkSession,
        base: str,
        source: str,
        config: TableConfig,
        schema: StructType | str | None = None,
        mode: str = "metadata_only",
        link: bool = True,
    ) -> "Table":
        """Onboard an EXISTING parquet dataset as a keyed table — Hudi's
        bootstrap operation (``hoodie.bootstrap.mode``). The reference's
        tables all begin life as plain spark-written parquet
        (``flink/src/main/sql/parquet_to_hudi.sql``, the Glue datagen
        scripts); bootstrap is how Hudi onboards such data without
        re-ingesting it.

        - ``metadata_only`` (Hudi METADATA_ONLY, default): data files enter
          the table AS THEY ARE — hardlinked (or byte-copied when ``link``
          is False or linking crosses filesystems) into the table's hive
          layout and published as ONE bootstrap commit. No decode/re-encode
          and no Spark job over the data: onboarding 100 TB costs file
          metadata work, not a 100 TB rewrite. The files carry no
          ``_hoodie_*`` columns; the read funnel (``_read_files``)
          synthesizes them, the projection-level analogue of Hudi's
          skeleton-file stitch. Per-file record-key [min, max] sidecars are
          computed from a key-column-pruned pyarrow read (the same work
          Hudi spends generating skeleton files), so keyed writes prune
          bootstrap files exactly like native ones; key types whose string
          form pyarrow and Spark could render differently (floats,
          decimals, timestamps) skip the sidecar — pruning stays
          lossy-safe, never wrong.
        - ``full_record`` (Hudi FULL_RECORD): one ``bulk_insert`` rewrite
          that materializes the meta columns — pays the rewrite once,
          reads are native thereafter.

        Emptiness is re-checked UNDER the timeline lock at publish, so two
        racing bootstraps (or a bootstrap racing a first write) cannot both
        land. The source is never modified; cleaning or rolling back the
        bootstrap commit only ever removes the table's own links/copies.
        """
        if mode not in ("metadata_only", "full_record"):
            raise ValueError(f"mode must be metadata_only|full_record, got {mode!r}")
        if schema is None:
            # footer/directory inference only — no data read
            schema = spark.read.parquet(source).schema
        tbl = cls.create(spark, base, schema, config)
        if mode == "full_record":
            tbl.bulk_insert(spark.read.parquet(source))
            return tbl
        # ---- metadata_only: enumerate + validate the source layout first
        src_files: list[tuple[str, str]] = []  # (abs path, hive relpart)
        for root, _dirs, fns in sorted(os.walk(source)):
            relpart = os.path.relpath(root, source)
            for fn in sorted(fns):
                if fn.endswith(".parquet"):
                    src_files.append((os.path.join(root, fn), relpart))
        if not src_files:
            raise ValueError(f"no parquet files under {source}")
        declared = set(tbl.config.partition_by)
        for path, relpart in src_files:
            probe = os.path.join(relpart, "f.parquet") if relpart != "." else "f.parquet"
            parsed = set(cls._partition_of_relpath(probe))
            if parsed != declared:
                raise ValueError(
                    f"source file {path!r} sits under hive dirs {sorted(parsed)} "
                    f"but the table declares partition_by={sorted(declared)}; "
                    "declare matching partition columns or use mode='full_record'"
                )
        instant = new_instant()
        rels: list[str] = []
        linked = 0
        for n, (path, relpart) in enumerate(src_files):
            dest_dir = base if relpart == "." else os.path.join(base, relpart)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, f"{instant}_{n:05d}.parquet")
            if link:
                try:
                    os.link(path, dest)
                    linked += 1
                except OSError:
                    shutil.copy2(path, dest)
            else:
                shutil.copy2(path, dest)
            rels.append(os.path.relpath(dest, base))
        # the synthesis flag must be live (IN MEMORY) before any index/stats
        # maintenance reads these files through the funnel; the version floor
        # makes pre-bootstrap engines refuse the table instead of misreading
        # (bootstrap_instant is load-bearing — see __init__'s gate). The
        # DURABLE save is deferred to the publish lock below: saving before
        # the emptiness precondition means a lost race or crash leaves
        # permanent props pointing at a never-published instant, and two
        # racing bootstraps could each last-writer-win _save_props and
        # repoint bootstrap_instant away from the winner's published commit
        # (advisor, round 5).
        prev_bootstrap = tbl.config.bootstrap_instant
        prev_version = tbl.config.table_version
        tbl.config.bootstrap_instant = instant
        tbl.config.table_version = max(tbl.config.table_version, BOOTSTRAP_TABLE_VERSION)
        if tbl._stat_cols():
            tbl._write_file_stats(instant, rels)  # footer stats for stats_cols
        tbl._merge_stats(instant, tbl._bootstrap_key_stats(rels))
        props_saved = False

        def _empty_check():
            nonlocal props_saved
            if tbl.timeline.completed_data_instants():
                raise ConcurrentWriteConflict("bootstrap requires an empty table")
            # precondition holds and we are under the timeline lock: persist
            # bootstrap props now, BEFORE the instant becomes visible, so a
            # concurrent reader can never see the published bootstrap commit
            # without the synthesis flag
            tbl._save_props()
            props_saved = True

        try:
            tbl._publish_occ(
                Instant(
                    instant,
                    "commit",
                    rels,
                    [],
                    {
                        "operation": "bootstrap",
                        "mode": mode,
                        "source_path": source,
                        "files_linked": linked,
                    },
                ),
                since="",
                partitions={tbl._partition_path_of(r) for r in rels}
                if tbl.config.partition_by
                else None,
                precondition=_empty_check,
            )
        except BaseException:
            # unwind the props mutation: in-memory always; durable only if
            # the locked save actually ran (a precondition loss never saved,
            # so reverting durably there would clobber the WINNER's props)
            tbl.config.bootstrap_instant = prev_bootstrap
            tbl.config.table_version = prev_version
            if props_saved:
                try:
                    tbl._save_props()
                except Exception:
                    pass
            raise
        return tbl

    def export_snapshot(
        self, dest: str, as_of: str | None = None, mode: str = "hudi", link: bool = True
    ) -> int:
        """Materialize a CONSISTENT snapshot of the table — Hudi's
        ``HoodieSnapshotExporter`` (``--output-format hudi|parquet``), the
        DR-copy / dev-clone / downstream-handoff tool.

        - ``mode="hudi"``: O(files) metadata clone. Every live file (as of
          ``as_of``) hardlinks (or copies) into ``dest`` under the same hive
          layout, the props file copies verbatim, and the timeline is
          re-synthesized as one instant per ORIGINAL (instant, action) group
          — so base/log routing, row-level ``_hoodie_commit`` merge order,
          partial-update payloads, and a bootstrap table's synthesized-meta
          alignment all survive unchanged, and the clone is a fully
          queryable Table. Cloning 100 TB costs file-metadata work, not a
          read. Index/stats sidecars are intentionally NOT cloned (they are
          derived state — rebuild on the clone if wanted); reads stay
          correct, just unpruned, until then.
        - ``mode="parquet"``: one Spark rewrite of ``read(as_of)`` into
          ``dest`` — plain data columns, no engine metadata, for consumers
          that just want parquet.

        The export is read-only on the source (same guarantee bootstrap
        gives its source) and returns the number of data files exported."""
        if mode not in ("hudi", "parquet"):
            raise ValueError(f"mode must be hudi|parquet, got {mode!r}")
        if mode == "parquet":
            df = self.read(as_of=as_of)
            if self.config.partition_by:
                df.write.partitionBy(*self.config.partition_by).parquet(dest)
            else:
                df.write.parquet(dest)
            return sum(
                1
                for _root, _d, fns in os.walk(dest)
                for fn in fns
                if fn.endswith(".parquet")
            )
        if Table.exists(dest):
            raise ValueError(f"export destination {dest!r} already holds a table")
        files, _latest = self.timeline.live_files(
            as_of=normalize_as_of(as_of) if as_of is not None else None
        )
        os.makedirs(dest, exist_ok=True)
        shutil.copy2(os.path.join(self.base, PROPS_FILE), os.path.join(dest, PROPS_FILE))
        groups: dict[tuple[str, str], list[str]] = {}
        n = 0
        for rel in sorted(files):
            inst, action = files[rel]
            src = os.path.join(self.base, rel)
            dst = os.path.join(dest, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if link:
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
            else:
                shutil.copy2(src, dst)
            groups.setdefault((inst, action), []).append(rel)
            n += 1
        # carry each source instant's completion stamp into the clone —
        # version/delete-epoch resolution follows COMPLETION order (NBCC),
        # so re-stamping at clone time would flip a divergent history back
        # to begin order and the clone's merged view could differ from the
        # exported snapshot. Archived-era stamps come from the audit log.
        stamps: dict[str, float | None] = {
            i.instant: i.committed_at for i in self.timeline.archived_audit()
        }
        stamps.update({i.instant: i.committed_at for i in self.timeline.instants()})
        clone_tl = Timeline(dest)
        for (inst, action), rels in sorted(groups.items()):
            clone_tl.write(
                Instant(
                    inst,
                    action,
                    rels,
                    [],
                    {"operation": "snapshot_export", "source": self.base},
                    # unstamped legacy instants pin to epoch 0.0 — identical
                    # to None under completion_order's (stamp or 0.0, id)
                    # sort; letting write() stamp them "now" would hoist a
                    # legacy instant past the source's stamped ones
                    committed_at=stamps.get(inst) or 0.0,
                )
            )
        return n

    def validate(self) -> DataFrame:
        """Table integrity report — the ops-facing consistency checker
        (Hudi's ``CALL validate_metadata_table`` / repair-procedure family).
        Pure metadata work: one manifest replay, one filesystem walk, one
        JSON stat per timeline file; no data reads at any table size.

        Checks: every live manifest file exists on disk; no unreferenced
        parquet orphans outside sidecar dirs (crash leftovers — heal's
        dry-run view); timeline instants parse with unique ids and carry
        completion stamps; index/record-index metas are coherent (a valid
        meta must point at an existing generation dir). Returns one row per
        check: (check, status ok|fail, detail)."""
        rows: list[tuple[str, str, str]] = []
        files, _latest = self.timeline.live_files()
        missing = [r for r in sorted(files) if not os.path.exists(os.path.join(self.base, r))]
        rows.append(
            ("manifest_files_exist", "ok" if not missing else "fail",
             "" if not missing else f"{len(missing)} missing: {missing[:3]}")
        )
        known = set(files)
        for inst in self.timeline.instants():
            known.update(inst.files_added)
        # files referenced only by ARCHIVED instants (retained for savepoints
        # or awaiting clean) are accounted-for, not orphans: union the
        # checkpoint-era live set plus every archived instant's additions
        known.update(self.timeline.checkpoint_files())
        for inst in self.timeline.archived_audit():
            known.update(inst.files_added)
        orphans = []
        skip_dirs = {
            TIMELINE_DIR, ".staging", self.MARKERS_DIR,
            self.INDEX_DIR, self.RECORD_INDEX_DIR, self.STATS_DIR, self.BLOOMS_DIR,
        }
        for root, dirs, fns in os.walk(self.base):
            dirs[:] = [d for d in dirs if d not in skip_dirs and not d.startswith(".trash-")]
            for fn in fns:
                if fn.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, fn), self.base)
                    if rel not in known:
                        orphans.append(rel)
        rows.append(
            ("no_orphan_files", "ok" if not orphans else "fail",
             "" if not orphans else f"{len(orphans)} orphans: {orphans[:3]}")
        )
        insts = self.timeline.instants()
        ids = [i.instant for i in insts]
        dup = len(ids) != len(set(ids))
        data = [i for i in insts if i.is_data_commit]
        unstamped = [i.instant for i in data if i.committed_at is None]
        rows.append(("timeline_unique_ids", "ok" if not dup else "fail", ""))
        # a table written entirely before completion stamps existed is
        # healthy by completion_order's own contract (all-unstamped = begin
        # order) — report it as 'legacy', not a failure; only a MIX of
        # stamped and unstamped data instants is an integrity problem
        if data and len(unstamped) == len(data):
            stamp_status, stamp_detail = "legacy", "pre-upgrade table: no completion stamps"
        elif unstamped:
            stamp_status, stamp_detail = "fail", f"unstamped: {unstamped[:3]}"
        else:
            stamp_status, stamp_detail = "ok", ""
        rows.append(("timeline_completion_stamps", stamp_status, stamp_detail))
        bad_idx = []
        for name in self.index_names():
            meta = self._index_meta(name)
            if meta is not None and meta["valid"] and not os.path.isdir(
                self._index_data_dir(name, meta)
            ):
                bad_idx.append(name)
        rows.append(
            ("index_meta_coherent", "ok" if not bad_idx else "fail",
             "" if not bad_idx else f"valid meta, missing data dir: {bad_idx}")
        )
        return self.spark.createDataFrame(rows, "check STRING, status STRING, detail STRING")

    @classmethod
    def exists(cls, base: str) -> bool:
        return os.path.exists(os.path.join(base, PROPS_FILE))

    def drop(self) -> None:
        shutil.rmtree(self.base)

    # ---------------------------------------------------------------- helpers

    @property
    def data_cols(self) -> list[str]:
        return list(self.schema.names)

    def _key_sql(self) -> str:
        """The record key (``_hoodie_record_key``) of a row of the declared
        columns, as SQL text: one parse JVM-side where the Column form paid
        several py4j round-trips per key column."""
        return "concat_ws(':', " + ", ".join(
            f"CAST({_sql_ident(k)} AS STRING)" for k in self.config.record_key
        ) + ")"

    def _partition_sql(self) -> str:
        """The hive partition path (``_hoodie_partition_path``) of a row, as
        SQL text (see ``_key_sql``)."""
        if not self.config.partition_by:
            return "''"
        return "concat_ws('/', " + ", ".join(
            f"concat({_sql_str_lit(f'{c}=')}, CAST({_sql_ident(c)} AS STRING))"
            for c in self.config.partition_by
        ) + ")"

    def _with_meta(self, df: DataFrame, instant: str) -> DataFrame:
        # one selectExpr parse JVM-side, not py4j round-trips per Column
        commit = _sql_ident(META_COMMIT) if META_COMMIT in df.columns else _sql_str_lit(instant)
        key = self._key_sql() if self.config.record_key else "CAST(NULL AS STRING)"
        return df.selectExpr(
            f"{commit} AS {_sql_ident(META_COMMIT)}",
            f"{key} AS {_sql_ident(META_KEY)}",
            f"{self._partition_sql()} AS {_sql_ident(META_PARTITION)}",
            *map(_sql_ident, self.data_cols),
        )

    def _empty(self, with_deleted: bool = False, with_partial: bool = False) -> DataFrame:
        schema = StructType(
            [f for f in _meta_struct().fields] + list(self.schema.fields)
        )
        df = self.spark.createDataFrame([], schema)
        if with_deleted:
            df = df.withColumn(META_DELETED, F.lit(False))
        if with_partial:
            df = df.withColumn(META_PARTIAL, F.lit(None).cast(ArrayType(StringType())))
        return df

    def _partial_instants(self) -> set[str]:
        """Instants written by ``update_partial`` — live log files from these
        carry the META_PARTIAL column and require the column-level merge.
        Once compaction resolves them the flag drops back and full tables
        keep the cheap row-level merge path."""
        return {
            i.instant
            for i in self.timeline.completed_data_instants()
            if i.meta.get("operation") == "update_partial"
            # log compaction carries partial rows forward when its inputs had any
            or i.meta.get("has_partial_rows")
        }

    def _partial_in(self, files: dict, rels: list[str] | None = None) -> bool:
        pinst = self._partial_instants()
        if not pinst:
            return False
        scope = rels if rels is not None else list(files)
        return any(files[r][0] in pinst for r in scope if r in files)

    def _write_files(
        self,
        df: DataFrame,
        instant: str,
        preserve_layout: bool = False,
        range_key_layout: int | None = None,
        single_task: bool = False,
        dirs: int | None = None,
    ) -> list[str]:
        """Write one commit's files into hive-style partition dirs:
        ``{base}/{col=val}/{instant}_{n}.parquet`` (Hudi's own layout shape).

        Spark writes to a staging dir, then files are renamed into place — rename is
        atomic-per-file and the commit point is still the timeline publish, so
        readers (manifest-driven) never see partial state. Layout control:
        repartition by (partition cols[, key bucket]) bounds files per hive dir —
        the small-file knob of ``consistent_hashing.sql:39-40`` as shuffle planning.
        ``single_task``: the caller's plan is already one partition (a small
        keyed commit, see ``_merge_cow``); that task writes every hive dir
        itself, one file each, with no exchange. ``dirs``: how many hive dirs
        the commit writes, known from planning; it sizes the partition
        exchange (capped at ``spark.sql.shuffle.partitions``) in place of the
        session width.
        """
        if self.config.table_type == "mor" and META_DELETED not in df.columns:
            # every MOR file carries the tombstone flag so mixed base+log file lists
            # read with one uniform schema (no mergeSchema dependence)
            df = df.withColumn(META_DELETED, F.lit(False))
        parts = self.config.partition_by
        write_parts = list(parts)
        unpersist_after_write = None
        if preserve_layout:
            # caller (sort clustering) planned the partitioning itself — keep it
            pass
        elif self.config.bucket_ranges and self.config.record_key:
            # consistent-hash routing: ring position → greatest boundary ≤ h.
            # The when-chain is O(buckets) expression depth — fine for the
            # tens-of-buckets regime this engine targets; a thousand-bucket
            # table would swap this for a broadcast range join
            df = df.withColumn(BUCKET_COL, self._range_bucket_expr())
            write_parts.append(BUCKET_COL)
            df = df.repartition(*[F.col(c) for c in write_parts])
        elif self.config.n_buckets and self.config.record_key:
            # bucket index (J5): the bucket id becomes a hive dir (__bucket=N) —
            # exact file-group routing independent of shuffle planning/AQE, and a
            # point lookup can prune to hash(key)%n's directory
            bucket = F.pmod(F.xxhash64(*self.config.record_key), F.lit(self.config.n_buckets))
            df = df.withColumn(BUCKET_COL, bucket)
            write_parts.append(BUCKET_COL)
            df = df.repartition(*[F.col(c) for c in write_parts])
        elif range_key_layout and self.config.record_key and META_KEY in df.columns:
            # OPT-IN key-sorted layout (range-partition + in-task sort on
            # (hive partition, record key)): keeps file key ranges disjoint so
            # the range index prunes sharply. NOT applied on the regular write
            # path — RangePartitioner samples its child (re-executing the
            # merge plan) and the ranged exchange costs ~1s per write at bench
            # scale, which is why Hudi's own answer for random access after
            # rewrites is the BLOOM index (layout-independent) plus periodic
            # clustering to restore sort order. ``cluster_sort`` and bulk
            # loads are the intended callers.
            from pyspark import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            unpersist_after_write = df
            exprs = [F.col(c) for c in parts] + [F.col(META_KEY)]
            df = df.repartitionByRange(max(range_key_layout, 1), *exprs).sortWithinPartitions(
                *exprs
            )
        elif parts and not single_task:
            if dirs:
                cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                df = df.repartition(min(dirs, cap), *parts)
            else:
                df = df.repartition(*parts)
        # Engine-session rule: a write whose layout the engine plans into
        # hive-partition (or bucket) dirs runs as one static job on an engine
        # session (``_static``). AQE would turn every exchange into a Spark
        # job of its own, and there is nothing for it to adapt: each
        # partition value lands wholly in one task, so the file-per-dir layout
        # is the same with or without coalescing, and the exchanges upstream
        # are the engine's key windows, sized by the driver. A plan that
        # still holds a join or aggregate (``_adaptive``: a caller's source
        # written without a checkpoint, a pk-less delete's anti join) keeps
        # AQE on the caller's session, for its skew splits and runtime
        # broadcasts. UNPARTITIONED writes keep AQE too: there the final
        # exchange width IS the output file count, and AQE's partition
        # coalescing is the scale-adaptive file sizing (without it a 32-wide
        # merge exchange emitted up to 32 tiny files per commit — measured as
        # the expression-index fixture growing 4 → 35 files). Caller-planned
        # layouts (preserve_layout / range_key_layout) keep AQE as well —
        # their exchange shapes were chosen by the caller and coalescing is
        # part of the small-file clustering contract.
        if write_parts and not preserve_layout and not range_key_layout and not _adaptive(df):
            df = _static(df)
        staging = os.path.join(self.base, ".staging", instant)
        writer = df.write.mode("overwrite")
        if self.config.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", self.config.max_records_per_file)
        if write_parts:
            writer = writer.partitionBy(*write_parts)
        try:
            writer.parquet(staging)
        finally:
            if unpersist_after_write is not None:
                unpersist_after_write.unpersist()
        import pyarrow.parquet as pq

        # Decide keep/drop for EVERY staged file before any rename: a
        # truncated/corrupt part file must fail the whole write while the
        # table dir is still untouched, never mid-promotion with some files
        # already moved (orphans). read_metadata opens and closes the footer
        # (no leaked handle).
        keep: list[tuple[str, str, int]] = []
        for root, _dirs, fns in os.walk(staging):
            for fn in sorted(fns):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(root, fn)
                # Every footer is read, whatever the file's size: a corrupt
                # part file raises here, before any rename. Zero-row part
                # files (an empty shuffle partition under static execution
                # emits one) never become table files: they would inflate the
                # file listing forever and carry no footer stats for the
                # key-range index.
                rows = pq.read_metadata(src).num_rows
                if rows == 0:
                    continue
                keep.append((root, src, rows))
        rels: list[str] = []
        for n, (root, src, rows) in enumerate(keep):
            relpart = os.path.relpath(root, staging)
            dest_dir = self.base if relpart == "." else os.path.join(self.base, relpart)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, f"{instant}_{n:05d}.parquet")
            os.replace(src, dest)
            _remember_rows(os.stat(dest), dest, rows)
            rels.append(os.path.relpath(dest, self.base))
        shutil.rmtree(staging, ignore_errors=True)
        rels = sorted(rels)
        if self._stat_cols():
            self._write_file_stats(instant, rels)
        if self.config.bloom_index and self.config.record_key:
            self._write_bloom_filters(instant, rels)
        return rels

    # -------------------------------------------------------- col-stats index

    STATS_DIR = "_stats"

    def _stat_cols(self) -> list[str]:
        """Columns recorded in the per-file stats sidecars: the user-declared
        ``stats_cols`` plus, for keyed tables, the record key itself — the
        key-range index that lets keyed writes and CDC reads prune their
        location scans to O(touched files) (Hudi's bloom-index range-pruning
        phase, built from parquet footers instead of a bloom sidecar)."""
        cols = list(self.config.stats_cols)
        if self.config.record_key and META_KEY not in cols:
            cols.append(META_KEY)
        return cols

    def _write_file_stats(self, instant: str, rels: list[str]) -> None:
        """Record per-file min/max of ``_stat_cols()`` from the parquet footers
        just written (no data re-read — footer metadata only). Stored as one
        JSON sidecar per instant, so planning stays O(instants): a scan loads
        the sidecars of live instants and never opens pruned files."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        stat_cols = self._stat_cols()

        def footer_stats(rel: str) -> tuple[str, dict[str, list]]:
            md = pq.ParquetFile(os.path.join(self.base, rel)).metadata
            col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            per_col: dict[str, list] = {}
            for col in stat_cols:
                if col not in col_idx:
                    continue
                lo, hi = None, None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx[col]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    mn, mx = st.min, st.max
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                if lo is not None:
                    per_col[col] = [_stats_json(lo), _stats_json(hi)]
            return rel, per_col

        # footer reads are IO-bound and independent — a big commit (thousands
        # of rolled files) must not serialize them on the driver
        with ThreadPoolExecutor(max_workers=min(16, max(len(rels), 1))) as ex:
            results = list(ex.map(footer_stats, rels))
        stats = {rel: per_col for rel, per_col in results if per_col}
        d = os.path.join(self.base, self.STATS_DIR)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{instant}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, os.path.join(d, f"{instant}.json"))
        self._write_partition_stats(instant, stats, rels)

    # --------------------------------------------------- partition-stats index

    PARTITION_STATS_DIR = "_stats_partition"

    def _write_partition_stats(
        self,
        instant: str,
        stats: dict[str, dict[str, list]],
        rels: list[str] | None = None,
    ) -> None:
        """Hudi 1.0 PARTITION_STATS metadata index
        (``hoodie.metadata.index.partition.stats.enable``): per-PARTITION
        [min, max] of the stat columns, aggregated from the same footer stats
        the per-file sidecar records — zero extra reads, one JSON per instant.

        Why a second granularity: planning against partition stats reads
        O(partitions) metadata rows where file stats read O(files) — at 100 TB
        (100k files, ~1k partitions) that is the difference between a
        metadata lookup and a metadata scan, and partitions pruned here never
        have their file-level stats consulted at all. Bounds only ever WIDEN
        (per-instant envelopes union at load time), so deletes/rewrites leave
        them stale-wide — conservative, never lossy.

        Completeness contract: the envelope for (partition, col) is usable
        ONLY if EVERY file of the commit contributed bounds for ``col``. A
        file whose footer lacks min/max for a column (stats-less row group,
        truncated binary stats) keeps its rows OUT of any union — file-level
        pruning survives that ("no stats ⇒ keep the file") but a partition
        envelope that silently skipped the file could prune rows it never
        saw. Such columns get a ``None`` tombstone for the partition (the
        partition is then always kept), as do columns whose rendered stats
        are incomparable across files."""
        if not self.config.partition_by or (not stats and not rels):
            # no files at all: nothing to record. A commit whose files ALL
            # failed to produce stats (stats empty, rels non-empty) must NOT
            # return here — its partitions still need their tombstones, or
            # the envelope from earlier commits would prune the new files
            return
        agg: dict[str, dict[str, list | None]] = {}
        stat_cols = self._stat_cols()
        for rel in rels if rels is not None else sorted(stats):
            per_col = stats.get(rel, {})
            slot = agg.setdefault(self._partition_path_of(rel), {})
            for col in stat_cols:
                if col not in per_col:
                    slot[col] = None  # incomplete coverage: envelope unusable
                    continue
                lo, hi = per_col[col]
                cur = slot.get(col, ...)
                if cur is None:
                    continue  # tombstoned: stays unknown
                if cur is ...:
                    slot[col] = [lo, hi]
                else:
                    try:
                        slot[col] = [min(cur[0], lo), max(cur[1], hi)]
                    except TypeError:
                        slot[col] = None
        if not agg:
            return
        d = os.path.join(self.base, self.PARTITION_STATS_DIR)
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, f"{instant}.json")
        covered = {instant}
        if os.path.exists(final):
            # re-aggregation for the same instant (bootstrap's _merge_stats):
            # merge against the first write with tombstones WINNING — a file
            # the first pass tombstoned for (e.g. no footer stats at all) is
            # invisible to this pass's per-file view, and un-tombstoning it
            # would reopen the incomplete-coverage hole
            with open(final) as f:
                prior = json.load(f)
            covered |= set(prior.pop(self._PSTATS_COVERED_KEY, []))
            for part, per_col in prior.items():
                slot = agg.setdefault(part, {})
                for col, bounds in per_col.items():
                    cur = slot.get(col, ...)
                    if bounds is None or cur is None:
                        slot[col] = None
                    elif cur is ...:
                        slot[col] = list(bounds)
                    else:
                        try:
                            slot[col] = [min(cur[0], bounds[0]), max(cur[1], bounds[1])]
                        except TypeError:
                            slot[col] = None
        # instants whose files the merged envelopes account for: the scan
        # gate refuses to prune any partition holding a file from an
        # UNCOVERED instant (pre-index commits, legacy sidecars) — without
        # this, a post-index commit's narrow envelope would shadow the
        # pre-index files the index never saw
        agg[self._PSTATS_COVERED_KEY] = sorted(covered)
        tmp = os.path.join(d, f".{instant}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(agg, f)
        os.replace(tmp, final)

    #: reserved top-level key in partition-stats sidecars: the instants whose
    #: files the envelopes cover (JSON-serializable list of instant ids)
    _PSTATS_COVERED_KEY = "__covered_instants__"

    def _load_partition_stats(self) -> dict[str, dict[str, list]]:
        """Merged per-partition bounds across instants (widening union; a
        ``None`` tombstone in any instant drops that column's bound for the
        partition). Returns only usable [lo, hi] pairs — callers feed the
        result straight to ``_file_may_match``."""
        return self._partition_stats_with_coverage()[0]

    def _partition_stats_with_coverage(self) -> tuple[dict[str, dict[str, list]], set[str]]:
        """(usable envelopes, covered instants). The coverage set is the
        union of every sidecar's ``__covered_instants__``: files added by an
        instant OUTSIDE this set were never aggregated into any envelope, so
        the scan gate must keep their partitions unconditionally (legacy
        sidecars without the key contribute no coverage — conservative)."""
        raw, covered = self._merged_partition_stats_raw()
        return (
            {
                part: {c: b for c, b in per_col.items() if b is not None}
                for part, per_col in raw.items()
            },
            covered,
        )

    def _merged_partition_stats_raw(
        self,
    ) -> tuple[dict[str, dict[str, list | None]], set[str]]:
        """The widening merge WITH ``None`` tombstones intact — the form the
        clean-time baseline fold must persist (dropping a tombstone would let
        a later narrow-bounded commit shadow the unknown-bounds files it
        tombstoned for, turning a conservative miss into a lossy prune)."""
        d = os.path.join(self.base, self.PARTITION_STATS_DIR)
        if not os.path.isdir(d):
            return {}, set()
        merged: dict[str, dict[str, list | None]] = {}
        covered: set[str] = set()
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(d, fn)) as f:
                data = json.load(f)
            covered |= set(data.pop(self._PSTATS_COVERED_KEY, []))
            for part, per_col in data.items():
                slot = merged.setdefault(part, {})
                for col, bounds in per_col.items():
                    cur = slot.get(col, ...)
                    if cur is None or bounds is None:
                        slot[col] = None
                    elif cur is ...:
                        slot[col] = list(bounds)
                    else:
                        try:
                            slot[col] = [
                                min(cur[0], bounds[0]),
                                max(cur[1], bounds[1]),
                            ]
                        except TypeError:
                            slot[col] = None
        return merged, covered

    def _merge_stats(self, instant: str, extra: dict[str, dict[str, list]]) -> None:
        """Merge computed per-file stats into the instant's sidecar (used by
        bootstrap, whose key ranges can't come from footers — the files have
        no ``_hoodie_record_key`` column)."""
        if not extra:
            return
        d = os.path.join(self.base, self.STATS_DIR)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{instant}.json")
        stats: dict[str, dict[str, list]] = {}
        if os.path.exists(p):
            with open(p) as f:
                stats = json.load(f)
        for rel, per_col in extra.items():
            stats.setdefault(rel, {}).update(per_col)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, p)
        # keep the partition-granularity envelope in step (widening is
        # idempotent, so re-aggregating the merged sidecar is safe)
        self._write_partition_stats(instant, stats)

    #: key-component types whose string rendering is identical between
    #: pyarrow's cast and Spark's CAST(.. AS STRING) — integer text and
    #: identity. Floats/decimals/timestamps render differently ("1.0" vs
    #: "1"), and a wrong range would make pruning LOSSY (a missed key is a
    #: lost update), so those keys simply get no bootstrap range sidecar.
    _EXACT_STR_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}

    def _bootstrap_key_stats(self, rels: list[str]) -> dict[str, dict[str, list]]:
        """Per-file [min, max] of the STRINGIFIED record key for bootstrap
        files, from a key-column-pruned pyarrow read (no Spark job, no full
        decode — the exact cost Hudi pays generating bootstrap skeleton
        files). Ranges compare lexicographically on both sides
        (``_prune_files_by_keys`` joins on string bounds), so stringified
        integer keys stay consistent even though "10" < "9"."""
        key_cols = self.config.record_key
        if not key_cols or any(
            self.schema[k].dataType.simpleString() not in self._EXACT_STR_TYPES
            for k in key_cols
        ):
            return {}
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def key_range(rel: str) -> tuple[str, list | None]:
            part_vals = self._partition_of_relpath(rel)
            file_cols = [k for k in key_cols if k not in part_vals]
            path = os.path.join(self.base, rel)
            if file_cols:
                tb = pq.read_table(path, columns=file_cols)
                n = tb.num_rows
            else:
                tb = None
                n = pq.ParquetFile(path).metadata.num_rows
            if n == 0:
                return rel, None
            arrs = []
            for k in key_cols:
                if k in part_vals:
                    arrs.append(pa.array([str(part_vals[k])] * n, type=pa.string()))
                else:
                    col = tb.column(k).combine_chunks()
                    if col.null_count:
                        return rel, None  # null key component: never prune this file
                    arrs.append(pc.cast(col, pa.string()))
            key = arrs[0] if len(arrs) == 1 else pc.binary_join_element_wise(*arrs, ":")
            mm = pc.min_max(key)
            return rel, [mm["min"].as_py(), mm["max"].as_py()]

        with ThreadPoolExecutor(max_workers=min(16, max(len(rels), 1))) as ex:
            results = list(ex.map(key_range, rels))
        return {rel: {META_KEY: v} for rel, v in results if v is not None}

    def _load_file_stats(self) -> dict[str, dict[str, list]]:
        d = os.path.join(self.base, self.STATS_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, dict[str, list]] = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out.update(json.load(f))
        return out

    BLOOMS_DIR = "_blooms"

    def _write_bloom_filters(self, instant: str, rels: list[str]) -> None:
        """Build one record-key bloom per file just written (the filter phase
        of Hudi's BLOOM index; the sidecar plays the role of the
        ``org.apache.hudi.bloomfilter`` parquet-footer blob). Reads ONLY the
        key column of the commit's own files via pyarrow, thread-parallel —
        cost is O(commit), never a table scan."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        from hudi_examples_spark.table.bloom import build_bloom

        fpp = self.config.bloom_fpp

        def file_bloom(rel: str) -> tuple[str, dict | None]:
            path = os.path.join(self.base, rel)
            try:
                col = pq.read_table(path, columns=[META_KEY]).column(META_KEY)
            except Exception:
                return rel, None  # no key column (shouldn't happen on keyed tables)
            keys = [k for k in col.to_pylist() if k is not None]
            return rel, build_bloom(keys, fpp)

        with ThreadPoolExecutor(max_workers=min(16, max(len(rels), 1))) as ex:
            results = list(ex.map(file_bloom, rels))
        blooms = {rel: b for rel, b in results if b is not None}
        if not blooms:
            return
        d = os.path.join(self.base, self.BLOOMS_DIR)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{instant}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(blooms, f)
        os.replace(tmp, os.path.join(d, f"{instant}.json"))

    def _load_blooms(self) -> dict[str, dict]:
        d = os.path.join(self.base, self.BLOOMS_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, dict] = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out.update(json.load(f))
        return out

    def _bloom_prune(self, rels: list[str], keys_df: DataFrame) -> list[str]:
        """Drop files whose bloom filter definitely contains NONE of the keys.

        The bounded filter metadata is broadcast; the key DataFrame is probed
        per-partition executor-side (vectorized numpy batch against each
        candidate bloom) and only matched FILE NAMES return to the driver —
        the keys themselves are never collected. Files without a bloom (written
        before the index was enabled) are always kept: pruning is never lossy.
        """
        blooms = self._load_blooms()
        cand = {r: blooms[r] for r in rels if r in blooms}
        if not cand:
            return list(rels)
        unknown = [r for r in rels if r not in blooms]
        bc = self.spark.sparkContext.broadcast(cand)

        def probe(rows):
            from hudi_examples_spark.table.bloom import bloom_any_contains, key_hashes

            keys = [r["__k"] for r in rows if r["__k"] is not None]
            if not keys:
                return
            h1, h2 = key_hashes(keys)
            for rel, bl in bc.value.items():
                if bloom_any_contains(bl, h1, h2):
                    yield rel

        # duplicates only cost re-hashing inside the vectorized probe — cheaper
        # than a distinct exchange of the batch
        keys = keys_df.select(F.col(META_KEY).cast("string").alias("__k"))
        hit = set(keys.rdd.mapPartitions(probe).distinct().collect())
        return sorted(hit | set(unknown))

    # ---------------------------------------------------------------- indexes
    #
    # One generational protocol serves every index. An index is a dir holding
    # ``meta.json`` and generation dirs (``data`` = generation 0, then
    # ``data_gNNNN``), each a base build plus one ``append_*`` dir per commit.
    # A kind supplies only its entries (``_index_entries``) and the column its
    # build sorts on: value indexes (secondary/expression, ``_index/<name>/``)
    # map (val, key), the record index (``_record_index/``) maps (key, rel).

    INDEX_DIR = "_index"
    RECORD_INDEX_DIR = "_record_index"
    #: reserved name of the record index in ``index_names`` / ``rebuild_index``
    #: / ``drop_index`` and in SQL
    RECORD_INDEX = "record_index"

    def index_names(self) -> list[str]:
        """Every index of the table: the record index (if built) first, then
        the secondary/expression indexes by name."""
        rec = os.path.exists(os.path.join(self._index_dir(self.RECORD_INDEX), "meta.json"))
        return ([self.RECORD_INDEX] if rec else []) + self.secondary_index_cols()

    def secondary_index_cols(self) -> list[str]:
        """Names of the secondary/expression (value) indexes."""
        d = os.path.join(self.base, self.INDEX_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            c
            for c in os.listdir(d)
            if not c.startswith(".")  # .trash-* from drop_index
            and os.path.exists(os.path.join(d, c, "meta.json"))
        )

    def _index_dir(self, name: str) -> str:
        if name == self.RECORD_INDEX:
            return os.path.join(self.base, self.RECORD_INDEX_DIR)
        return os.path.join(self.base, self.INDEX_DIR, name)

    def _index_type(self, name: str, meta: dict) -> str:
        """SHOW INDEXES' type: record_index, or secondary_index for a bare
        column and expression_index for anything else."""
        if name == self.RECORD_INDEX:
            return "record_index"
        return "secondary_index" if meta["expr"].strip() in self.schema.names else "expression_index"

    def _index_meta(self, name: str) -> dict | None:
        p = os.path.join(self._index_dir(name), "meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            meta = json.load(f)
        # the record index is defined by the record key; plain
        # pre-expression value metas carry only "col"
        meta.setdefault(
            "expr",
            ",".join(self.config.record_key)
            if name == self.RECORD_INDEX
            else meta.get("col", name),
        )
        meta.setdefault("gen", 0)
        meta.setdefault("valid", True)
        return meta

    def _write_index_meta(self, name: str, meta: dict) -> None:
        p = os.path.join(self._index_dir(name), "meta.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, p)

    def _index_data_dir(self, name: str, meta: dict | None = None) -> str:
        """Current data directory of an index. Generation 0 is the legacy
        ``data`` path; every rebuild bumps the generation and points the meta
        at a fresh ``data_g{N}`` dir so the swap is one atomic meta replace —
        concurrent readers mid-scan of the old generation never hit a vanished
        path (old generations are swept later by ``heal``, age-gated)."""
        meta = meta if meta is not None else (self._index_meta(name) or {})
        gen = meta.get("gen", 0)
        sub = "data" if gen == 0 else f"data_g{gen:04d}"
        return os.path.join(self._index_dir(name), sub)

    def _index_append_dir(self, data_dir: str) -> str:
        """Unique subdirectory for one commit's index entries.

        Concurrent writers may maintain the same index at the same moment; a
        shared ``mode("append")`` into one directory is NOT safe — Hadoop's
        FileOutputCommitter stages every job under the same ``_temporary/0``
        path, so one job's commit sweeps the other's in-flight attempt dirs
        (found by tests/test_services_soak.py). Per-commit subdirectories
        give every append its own committer scope, exactly like log files in
        a file group; readers glob the generation recursively."""
        import uuid as _uuid

        return os.path.join(data_dir, f"append_{_uuid.uuid4().hex[:16]}")

    def _read_index_entries(self, name: str, meta: dict | None = None) -> DataFrame:
        """The current generation's entries — recursive lookup because
        appends live in per-commit subdirectories."""
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(self._index_data_dir(name, meta))
        )

    def _index_entries(
        self,
        name: str,
        meta: dict,
        rels: list[str],
        partial_cols: list[str] | None = None,
        snapshot: bool = False,
    ) -> DataFrame | None:
        """The kind hook of the protocol: the entries of the data files
        ``rels`` — (key, rel) pairs for the record index (``_record_entries_for``),
        non-null (val, key) pairs for a value index. ``snapshot`` (a build)
        derives a value index from the merged snapshot instead, so the fresh
        generation holds only current values. None when there is nothing to
        write: no parquet file, or a partial-update commit (``partial_cols``)
        that provides none of a value index's columns — its values are
        unchanged and the existing entries stay complete."""
        if name == self.RECORD_INDEX:
            return self._record_entries_for(rels)
        if partial_cols is not None and not self._index_expr_refs(meta["expr"]) <= set(
            partial_cols
        ):
            return None
        src = self.read(with_meta=True) if snapshot else self._read_files(rels, with_deleted=False)
        return (
            src.select(F.expr(meta["expr"]).alias("val"), F.col(META_KEY).alias("key"))
            .where(F.col("val").isNotNull())
        )

    def _append_index_entries(
        self, name: str, meta: dict, rels: list[str], partial_cols: list[str] | None = None
    ) -> None:
        """Write the entries of ``rels`` as one more ``append_*`` dir of the
        generation ``meta`` names."""
        entries = self._index_entries(name, meta, rels, partial_cols) if rels else None
        if entries is None:
            return
        # static: an exchange-free plan (column-pruned scan of the commit's
        # files → project → write); AQE only splits it into extra stage-jobs
        # (measured 2 → 1 job per commit), with no shuffle to coalesce
        _static(entries).write.mode("overwrite").parquet(
            self._index_append_dir(self._index_data_dir(name, meta))
        )

    def _build_index(self, name: str, meta: dict) -> None:
        """Build a generation of an index — generation 0 for a create (``meta``
        without ``gen``), the next one for a rebuild — and publish it.

        Concurrency-safe, unlike a naive dir swap: the fresh mapping is built
        into a NEW generation directory off-lock (the expensive scan), then
        under the timeline lock we (a) catch up entries of every live file the
        build did not cover and (b) swap by atomically replacing meta.json to
        point at the new generation. The catch-up is a FILE delta, not an
        instant delta: a slow writer whose instant id predates the build
        snapshot can publish between the build's read and this locked swap
        (its publish guard still saw the old generation), and an id-based
        filter misses exactly that writer — caught once by test_record_index's
        writer+rebuild storm under heavy host contention. A writer that
        publishes after we release sees the new generation in its own locked
        publish guard (``_index_publish_guard``) and re-appends into it, so
        no mapping is ever lost. Duplicate entries are superset-safe. The old
        generation stays on disk for in-flight readers; ``heal`` sweeps
        superseded generations age-gated."""
        gen = meta.get("gen", -1) + 1
        fresh = self._index_data_dir(name, {"gen": gen})
        shutil.rmtree(fresh, ignore_errors=True)
        snap = self.latest_instant() or ""
        # captured BEFORE the read, so a file publishing mid-build lands in the
        # catch-up delta — at worst indexed twice, superset-safe
        built = sorted(self.timeline.live_files()[0])
        entries = self._index_entries(name, meta, built, snapshot=True)
        if entries is None:
            entries = self.spark.createDataFrame([], "key STRING, rel STRING")
        col = "key" if name == self.RECORD_INDEX else "val"
        n = max(self.spark.sparkContext.defaultParallelism // 4, 1)
        (
            entries.repartitionByRange(n, col)
            .sortWithinPartitions(col)
            .write.mode("overwrite")
            .parquet(fresh)
        )
        lock = os.path.join(self.base, TIMELINE_DIR, "_lock")
        os.makedirs(os.path.dirname(lock), exist_ok=True)
        fd = _acquire_lock(lock, self.LOCK_TTL_SECONDS, 30.0)
        try:
            late = sorted(set(self.timeline.live_files()[0]) - set(built))
            self._append_index_entries(name, {**meta, "gen": gen}, late)
            meta.update(
                {"gen": gen, "valid": True, "rebuilt_as_of" if gen else "built_as_of": snap}
            )
            self._write_index_meta(name, meta)
        finally:
            _release_lock(fd, lock)

    def rebuild_index(self, name: str) -> None:
        """Compact an index's append-only superset back to the exact current
        mapping (drops stale values of updated rows, entries of deleted rows
        and of dead files) and clear any invalidation marker left by
        ``rollback`` — Hudi's async indexer. ``name`` is a secondary/expression
        index or ``record_index``. One generational build (``_build_index``):
        concurrent writers and readers are safe throughout."""
        name = self.RECORD_INDEX if name.lower() == self.RECORD_INDEX else name
        meta = self._index_meta(name)
        if meta is None:
            raise ValueError(f"no index {name!r}")
        self._build_index(name, meta)

    def drop_index(self, name: str) -> None:
        """Drop an index (a secondary/expression index or ``record_index``) by
        RENAME to a dot-prefixed trash dir beside it (atomic disappearance
        from ``index_names``): an rmtree of the live dir would yank files out
        from under a concurrent reader mid-scan. ``heal`` sweeps the trash
        age-gated, like superseded generations."""
        import uuid as _uuid

        name = self.RECORD_INDEX if name.lower() == self.RECORD_INDEX else name
        d = self._index_dir(name)
        if not os.path.isdir(d):
            return
        trash = os.path.join(os.path.dirname(d), f".trash-{name}-{_uuid.uuid4().hex[:8]}")
        try:
            os.rename(d, trash)
        except OSError:
            shutil.rmtree(d, ignore_errors=True)  # cross-device fallback

    def _maintain_indexes(
        self, rels: list[str], partial_cols: list[str] | None = None, record: bool = False
    ) -> None:
        """Append the entries of files about to be published — one
        distributed column-pruned job per index over ONLY the commit's files.
        Runs before the commit publishes: a crash in between leaves superset
        entries (harmless), never a missing mapping.

        Value indexes are maintained from the data-write call sites; the
        record index (``record=True``) at the top of BOTH publish paths, so
        every file-adding commit — upserts, bulk loads, MOR logs, compaction,
        clustering, splits, which move keys to new files that (value → key)
        indexes never notice — keeps its (key → file) mapping complete; a
        publish that then loses its OCC race leaves entries for never-live
        files, dropped by the probe's liveness intersect.

        Partial-update commits (``partial_cols`` set) maintain a value index
        only when its expression's referenced columns are ALL provided
        (entries computable from the log rows). A MIXED expression (some
        provided, some absent) cannot be maintained from either side;
        ``update_partial`` rejects that combination up front.

        Each maintained kind and index generation goes into the commit's one
        pending-append note, which the locked publish re-checks
        (``_index_publish_guard``)."""
        # the record-index call at publish joins the note that the value-index
        # call at the data-write site opened for the same files
        pend = getattr(self, "_pending_index_appends", None)
        if pend is None or pend["rels"] != list(rels):
            pend = self._pending_index_appends = {
                "rels": list(rels),
                "partial_cols": list(partial_cols) if partial_cols is not None else None,
                "kinds": set(),
                "gens": {},
            }
        pend["kinds"].add("record" if record else "value")
        for name in [self.RECORD_INDEX] if record else self.secondary_index_cols():
            meta = self._index_meta(name)
            if meta is None:
                continue
            pend["gens"][name] = meta["gen"]
            self._maintain_index(name, meta, rels, partial_cols)

    def _maintain_index(
        self, name: str, meta: dict, rels: list[str], partial_cols: list[str] | None
    ) -> None:
        try:
            self._append_index_entries(name, meta, rels, partial_cols)
        except AnalysisException:
            # the expression no longer analyzes (a schema change slipped past
            # the rename/drop guards — e.g. a stale handle's evolution). A
            # silent skip would leave a VALID-flagged index missing this
            # commit's mappings: wrong lookup results. Invalidate instead —
            # lookups fall back to scans until a rebuild re-certifies, the
            # same contract as rollback.
            meta["valid"] = False
            self._write_index_meta(name, meta)

    def _index_publish_guard(self) -> None:
        """Run inside the locked publish, after the commit lands: an index
        rebuilt (generation bump) or created since this write appended its
        entries got them in a superseded generation, or not at all — re-
        append into the current one. Rebuild/create swap generations only
        under this same lock, so the check cannot miss an interleaving; the
        re-append is a rare O(commit) job, and duplicates are superset-safe.
        Only indexes of a kind this commit maintained are checked."""
        pend = getattr(self, "_pending_index_appends", None)
        self._pending_index_appends = None
        if pend is None:
            return
        for name in self.index_names():
            if ("record" if name == self.RECORD_INDEX else "value") not in pend["kinds"]:
                continue
            meta = self._index_meta(name)
            if meta is not None and meta["gen"] != pend["gens"].get(name):
                self._maintain_index(name, meta, pend["rels"], pend["partial_cols"])

    def _publish_with_index_guard(self, inst: Instant) -> None:
        """Publish an append-only commit (bulk insert / MOR log) that skips
        OCC conflict checks but still needs the brief timeline lock: the
        commit write and the index-generation re-check must be one atomic
        step relative to ``_build_index``'s locked swap — that also covers an
        index CREATED concurrently on a previously index-less table. The lock
        hold is two renames plus a JSON stat in the common case; the
        re-append job only runs on an actual interleave."""
        if inst.files_added:
            self._maintain_indexes(inst.files_added, record=True)
        lock = os.path.join(self.base, TIMELINE_DIR, "_lock")
        os.makedirs(os.path.dirname(lock), exist_ok=True)
        fd = _acquire_lock(lock, self.LOCK_TTL_SECONDS, 30.0)
        try:
            self.timeline.write(inst)
            self._index_publish_guard()
        finally:
            _release_lock(fd, lock)

    # ------------------------------------------------------- secondary index

    def create_secondary_index(self, col: str) -> None:
        """Hudi 1.0 secondary index: a (value → record key) mapping for a
        NON-key column, so an equality lookup on it resolves to candidate
        record keys first and then rides the key indexes (range + bloom) to a
        pruned file read — instead of scanning the table or relying on col
        stats that only help clustered columns.

        The index is itself a parquet dataset under ``_index/{col}/data``,
        range-partitioned and sorted on the value so the LOOKUP of the index
        is min/max-prunable too. Built with one column-pruned snapshot scan;
        every subsequent data commit appends its own (value, key) pairs
        (``_maintain_indexes`` — O(commit), distributed). The index is
        maintained as a COMPLETE SUPERSET: updates append their new mapping
        and stale entries are never removed eagerly (deletes/overwrites/
        rollbacks only ever remove rows), which is safe because ``lookup``
        re-applies the predicate to the fetched rows — a stale entry costs
        bounded extra IO, never a wrong result. ``rebuild_index`` compacts
        the superset back to the exact mapping (Hudi's async indexer)."""
        if col not in self.schema.names:
            raise ValueError(f"no such column: {col}")
        self.create_expression_index(col, col)

    def create_expression_index(self, name: str, expr: str) -> None:
        """Hudi 1.0 expression (functional) index: the indexed value is an
        arbitrary deterministic SQL EXPRESSION over the row (``lower(name)``,
        ``substr(phone, 1, 3)``, ``year(ts)``) instead of a raw column —
        ``CREATE INDEX idx ON t USING column_stats(col) / bloom_filters`` with
        a function, per the Hudi 1.0 SQL surface. Same maintenance/lookup
        machinery as the plain secondary index (which is just ``expr = col``):
        a complete-superset (value → record key) dataset, compacted by
        ``rebuild_index``, queried via ``lookup_indexed``. Every value index is
        created here; ``record_index`` is reserved."""
        if not self.config.record_key:
            raise ValueError("secondary index requires a record key")
        self._check_index_name(name)
        self._build_index(name, {"name": name, "expr": expr})

    def _check_index_name(self, name: str) -> None:
        if not _INDEX_NAME_RE.match(name):
            raise ValueError(f"index name must be alnum/underscore, got {name!r}")
        if name.lower() == self.RECORD_INDEX:
            raise ValueError(f"index name {name!r} is reserved for the record index")

    def _index_expr_refs(self, expr: str) -> set[str]:
        """Schema columns an index expression references (identifier match)."""
        return {
            c for c in self.schema.names if _re.search(rf"\b{_re.escape(c)}\b", expr)
        }

    def _reject_indexed_column(self, col: str, verb: str) -> None:
        """Schema evolution guard: a rename/drop of a column some index
        expression references would leave the index's maintenance expression
        pointing at a dead name — every later commit's maintenance would
        fail and invalidate the index (silent lookup degradation at best).
        Hudi-style answer: the evolution is rejected up front; drop or
        rebuild the index first. (Defense in depth: if such a state arises
        anyway via a stale handle, ``_maintain_indexes`` invalidates rather
        than silently skipping.)"""
        holders = [
            name
            for name in self.secondary_index_cols()
            if col in self._index_expr_refs((self._index_meta(name) or {}).get("expr", ""))
        ]
        if holders:
            raise ValueError(
                f"cannot {verb} column {col}: referenced by secondary/expression "
                f"index(es) {holders}; DROP INDEX first"
            )

    def lookup(self, col: str, value) -> DataFrame:
        """Index-backed equality point read on a non-key column.

        Plan shape: filter the index on the value (min/max-pruned parquet
        read — the index is value-sorted), map to candidate record keys,
        prune live base files through the key range/bloom indexes, and read
        only the survivors (plus MOR logs, with the same
        key-window-closure guard as ``scan``). The final predicate re-apply
        makes superset index entries invisible. Without an index on ``col``
        this degrades to ``scan``'s col-stats path. Pruning evidence at
        ``last_index_lookup``."""
        name = self._index_for(col)
        if name is not None:
            return self.lookup_indexed(name, value)
        return self.scan([(col, "=", value)])

    def _index_for(self, col: str) -> str | None:
        """Index name serving equality predicates on ``col``: a same-named
        index, or any index whose defining expression IS the column (SQL DDL
        names indexes freely). Indexes invalidated by ``rollback`` never
        serve auto-routing — callers silently fall back to the scan path."""
        names = self.secondary_index_cols()
        if col in names:
            meta = self._index_meta(col)
            return col if meta and meta["valid"] else None
        for name in names:
            meta = self._index_meta(name)
            if meta and meta["expr"].strip() == col and meta["valid"]:
                return name
        return None

    def lookup_indexed(self, name: str, value) -> DataFrame:
        """Equality point read through a named secondary/expression index:
        ``lookup_indexed("name_lower", "x")`` answers
        ``WHERE lower(name) = 'x'`` with O(matching file groups) IO. Same
        plan shape and superset semantics as ``lookup`` (which delegates
        here); the re-applied predicate is the index's defining expression.

        An index invalidated by ``rollback`` (resurrected row versions were
        never indexed, so the superset contract is broken) answers with a
        full predicate scan instead — correct, just unpruned — until
        ``rebuild_index`` / ``run_services`` restores it."""
        meta = self._index_meta(name) if name != self.RECORD_INDEX else None
        if meta is None:
            raise ValueError(f"no secondary index {name}")
        if not meta["valid"]:
            self.last_index_lookup = {"invalid_fallback": True}
            return self.read().filter(F.expr(meta["expr"]) == F.lit(value))
        idx = self._read_index_entries(name, meta)
        keys = (
            idx.filter(F.col("val") == value)
            .select(F.col("key").alias(META_KEY))
            .distinct()
        )
        files, _ = self.timeline.live_files()
        log_rels = sorted(r for r, (_, a) in files.items() if a == "deltacommit")
        base_rels = sorted(r for r in files if r not in set(log_rels))
        cand = self._prune_files_by_keys(base_rels, keys)
        if log_rels:
            dropped = [r for r in base_rels if r not in set(cand)]
            log_keys = self._read_files(log_rels, with_deleted=True).select(META_KEY)
            cand = sorted(set(cand) | set(self._prune_files_by_keys(dropped, log_keys)))
        rels = sorted(set(cand) | set(log_rels))
        self.last_index_lookup = {
            "total": len(files),
            "scanned": len(rels),
            "pruned": len(files) - len(rels),
        }
        df = self._snapshot_of(files, rels).drop(*META_COLS) if rels else self.read().limit(0)
        return df.filter(F.expr(meta["expr"]) == F.lit(value))

    # --------------------------------------------------- record-level index

    def create_record_index(self) -> None:
        """Hudi 1.0 record-level index (RLI, ``hoodie.metadata.record.index
        .enable`` / ``CREATE INDEX record_index ON t (key)``): a global
        (record key → data file) mapping, so keyed-write planning resolves an
        incoming batch to its EXACT holder files with zero data-file reads —
        the step past range pruning (helps only clustered keys) and bloom
        probing (per-candidate-file work, FP-prone at scale). Hudi stores
        this mapping in the metadata table's ``record_index`` partition; here
        it is one more index of the generational protocol, a key-sorted
        parquet dataset under ``_record_index/``. A point read probes it on
        the driver (``_record_index_probe``); keyed-write planning, whose
        keys arrive as a DataFrame of any size, semi-joins them against it
        (``_record_index_candidates``).

        Same durability contract as the secondary indexes: a COMPLETE
        SUPERSET. Every commit that adds data files appends its (key, file)
        pairs before publishing (``_maintain_indexes`` at the top of both
        publish paths), and probes intersect entries with the LIVE file set,
        so entries of superseded or never-published files cost nothing but
        bounded index size. ``rebuild_index("record_index")`` compacts the
        superset; ``rollback`` of a replace commit invalidates the index
        (resurrected files may predate it) and ``run_services`` re-certifies.

        100 TB shape: the index is O(rows) but TWO short string columns,
        key-sorted so point probes prune by footer min/max; a batch probe is
        one semi join against a two-column columnar scan — always cheaper
        than opening data files, and it degrades to a shuffled join rather
        than a driver OOM when a bulk batch carries too many keys.
        Maintenance is O(commit), distributed."""
        if not self.config.record_key:
            raise ValueError("record index requires a record key")
        self._build_index(self.RECORD_INDEX, {})

    def _record_entries_for(self, rels: list[str]) -> DataFrame | None:
        """(key, rel) pairs of the given data files — ONE column-pruned
        distributed read. File identity rides ``input_file_name`` mapped back
        to the manifest relpath by BASENAME (Spark part-file names carry a
        per-job UUID, so basenames are unique; the mapping sidesteps
        URI-encoding mismatches between ``input_file_name`` and os paths).
        Tombstone log rows are included — a delete's key must still locate
        the log file that carries it."""
        rels = [r for r in rels if r.endswith(".parquet")]
        if not rels:
            return None
        names: dict[str, str] = {}
        for r in rels:
            names[os.path.basename(r)] = r
        if len(names) == len(rels) and len(names) <= 256:
            # small commit (the overwhelmingly common case): the basename →
            # rel mapping rides as a MAP LITERAL expression instead of a
            # broadcast join — the join's build side was a createDataFrame
            # parallelized over defaultParallelism slices, a whole extra
            # 32-task Spark job per commit for a dict of a few entries (r10).
            m = F.expr(_sql_map_lit(sorted(names.items())))
            return self._read_files(rels, with_deleted=True).select(
                F.col(META_KEY).alias("key"),
                F.element_at(
                    m, F.element_at(F.split(F.input_file_name(), "/"), -1)
                ).alias("rel"),
            )
        if len(names) == len(rels):
            # huge commit (thousands of files): a map literal that size would
            # bloat codegen — keep the broadcast-join form
            m = self.spark.createDataFrame(
                list(names.items()), "__fname STRING, rel STRING"
            )
            return (
                self._read_files(rels, with_deleted=True)
                .select(
                    F.col(META_KEY).alias("key"),
                    F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__fname"),
                )
                .join(F.broadcast(m), "__fname")
                .select("key", "rel")
            )
        # basename collision (copied files): per-file tagged reads, exact
        out = None
        for r in rels:
            part = self._read_files([r], with_deleted=True).select(
                F.col(META_KEY).alias("key"), F.lit(r).alias("rel")
            )
            out = part if out is None else out.unionByName(part)
        return out

    def _record_index_data_dir(self) -> str | None:
        """The record index's current generation dir, or None when the index
        is absent or invalidated or its dir is gone — the one condition under
        which both probes serve, so routing through ``lookup_key`` can never
        fall back into a loop."""
        meta = self._index_meta(self.RECORD_INDEX)
        if meta is None or not meta["valid"]:
            return None
        d = self._index_data_dir(self.RECORD_INDEX, meta)
        return d if os.path.isdir(d) else None

    def _record_index_ready(self) -> bool:
        return self._record_index_data_dir() is not None

    def _record_index_candidates(
        self, rels: list[str], keys_df: DataFrame
    ) -> list[str] | None:
        """Exact holder files of a keyed write's batch keys via the record
        index, or None when the index does not serve (callers fall back to
        range/bloom pruning). One semi join of the batch keys against the
        key-sorted index scan; only matched FILE NAMES return to the driver,
        intersected with the caller's live scope."""
        d = self._record_index_data_dir()
        if d is None:
            return None
        entries = self.spark.read.option("recursiveFileLookup", "true").parquet(d)
        keys = keys_df.select(F.col(META_KEY).cast("string").alias("key"))
        # no forced broadcast: a write batch's key set is usually tiny (AQE
        # broadcasts it from its runtime size), but a 100 TB-scale bulk
        # ingest can carry more distinct keys than a driver can broadcast —
        # the probe must degrade to a shuffled join, not an OOM.
        # No pre-join distinct on the probe side: a LEFT SEMI join is
        # set-semantic over the build side, so deduping first only adds a
        # full exchange of the batch keys.
        hit = (
            entries.join(keys, "key", "leftsemi")
            .select("rel")
            .distinct()
            .collect()
        )
        return sorted({r["rel"] for r in hit} & set(rels))

    def _record_index_probe(self, rels: list[str], keys: list[str]) -> list[str] | None:
        """Exact holder files of a few literal keys, read on the driver with
        no Spark job: the generation's parquet files (``_index_parquet_files``
        lists what Spark's reader would), row groups whose footer min/max on
        ``key`` cannot hold a probed key skipped, only ``(key, rel)`` read.
        The base build is range-partitioned and key-sorted, so its footers
        leave one base file per key; per-commit appends are small, and
        ``run_services`` rebuilds the generation once they bloat it. Same
        result and the same None as ``_record_index_candidates``."""
        d = self._record_index_data_dir()
        if d is None:
            return None
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        want = sorted(set(keys))
        hit: set[str] = set()
        for path in self._index_parquet_files(d):
            with pq.ParquetFile(path) as pf:
                md = pf.metadata
                ki = md.schema.names.index("key")
                groups = []
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(ki).statistics
                    if st is not None and st.has_min_max:
                        i = bisect.bisect_left(want, st.min)
                        if i == len(want) or want[i] > st.max:
                            continue
                    groups.append(g)
                if not groups:
                    continue
                tb = pf.read_row_groups(groups, columns=["key", "rel"])
            tb = tb.filter(pc.is_in(tb["key"], value_set=pa.array(want, pa.string())))
            hit.update(tb["rel"].to_pylist())
        return sorted(hit & set(rels))

    def lookup_key(self, value) -> DataFrame:
        """Point read by RECORD KEY through the record-level index — Hudi's
        RLI read path. The driver probes the index for ``str(value)``
        (``_record_index_probe``: footer-pruned pyarrow reads of the current
        generation, no Spark job) and resolves the key to its holder files —
        typically ONE, at any table size; only those are read, so the read
        itself is the one Spark job. MOR safety: the index holds an entry for
        EVERY live file carrying a version of the key — logs and delete
        tombstones included — so the precombine merge window sees all
        versions. Falls back to the col-stats/range scan path when the index
        is absent or invalidated. Pruning evidence at
        ``last_record_lookup``."""
        if len(self.config.record_key) != 1:
            raise ValueError("lookup_key requires a single-column record key")
        kcol = self.config.record_key[0]
        files, _ = self.timeline.live_files()
        cand = self._record_index_probe(sorted(files), [str(value)])
        if cand is None:
            out = self.scan([(kcol, "=", value)])
            # keep the pruning evidence attribute live even on this raced
            # fallback (index invalidated between the caller's readiness
            # check and the probe): scan()'s fast path copies
            # last_record_lookup unconditionally, and a fresh Table handle
            # would otherwise AttributeError
            self.last_record_lookup = dict(
                getattr(self, "last_scan", {"total": len(files), "scanned": len(files)})
            )
            return out
        self.last_record_lookup = {"total": len(files), "scanned": len(cand)}
        if not cand:
            # an empty frame, not an empty read: listing more than 32 live
            # files is itself a Spark job
            return self._empty().drop(*META_COLS)
        df = self._snapshot_of(files, cand).drop(*META_COLS)
        return df.filter(F.col(kcol) == F.lit(value))

    def metadata(self, part: str) -> DataFrame:
        """Hudi 1.0 metadata-table read (``hudi_metadata('<t>', '<part>')``
        TVF): ``files`` / ``partitions`` / ``column_stats`` /
        ``bloom_filters`` / ``record_index`` rendered as queryable
        DataFrames from the manifest + sidecars — see
        ``table/metadata.py`` for the partition schemas and scale stance."""
        from hudi_examples_spark.table.metadata import metadata_df

        return metadata_df(self, part)

    def _prune_files_by_keys(self, rels: list[str], keys_df: DataFrame) -> list[str]:
        """Drop files whose recorded record-key [min, max] range cannot contain
        any key in ``keys_df`` (a DataFrame with a ``_hoodie_record_key``
        column). This is the range-pruning phase of Hudi's bloom index: the
        per-file key ranges (bounded metadata, broadcast) are range-joined
        against the incoming keys JVM-side, and only matching file names come
        back to the driver. Files with no recorded range are always kept —
        pruning is never lossy. With keys clustered per file (sequential ids,
        sorted bulk loads) this makes keyed-write planning O(touched files);
        with uniformly random keys it degrades to the full list, exactly like
        Hudi's range pruning."""
        if not rels:
            self.last_key_prune = {"total": 0, "candidates": 0}
            return []
        # record-level index: exact (key → file) resolution replaces both
        # pruning phases when present and valid — the probe is lossless by
        # the index's completeness contract (every live file's keys are
        # entered before its commit publishes)
        ri = self._record_index_candidates(rels, keys_df)
        if ri is not None:
            self.last_key_prune = {
                "total": len(rels),
                "candidates": len(ri),
                "record_index": True,
            }
            return ri
        stats = self._load_file_stats()
        ranged, unknown = [], []
        for r in rels:
            kr = (stats.get(r) or {}).get(META_KEY)
            if kr is not None:
                ranged.append((r, str(kr[0]), str(kr[1])))
            else:
                unknown.append(r)
        if not ranged:
            kept = list(rels)
            if self.config.bloom_index:
                kept = self._bloom_prune(kept, keys_df)
            self.last_key_prune = {
                "total": len(rels),
                "candidates": len(kept),
                **({"bloom_pruned": len(rels) - len(kept)} if self.config.bloom_index else {}),
            }
            return kept
        # no pre-join distinct: the range probe tolerates duplicate keys and
        # the post-probe file-name distinct is tiny — skipping it saves one
        # full exchange of the batch on EVERY keyed write's planning pass
        keys = keys_df.select(F.col(META_KEY).cast("string").alias("__k"))
        if len(ranged) <= self.RANGE_LITERAL_MAX:
            # literal-array probe (r10): same inner-join semantics, no
            # broadcast-build job (see _plan_keyed_write)
            probe = keys.select(
                F.explode(
                    F.filter(
                        self._range_literal_array(ranged),
                        lambda s: (F.col("__k") >= s["lo"]) & (F.col("__k") <= s["hi"]),
                    )
                ).alias("__s")
            ).select(F.col("__s.rel").alias("rel"))
        else:
            rng = self.spark.createDataFrame(ranged, "rel STRING, lo STRING, hi STRING")
            probe = keys.join(
                F.broadcast(rng),
                (F.col("__k") >= F.col("lo")) & (F.col("__k") <= F.col("hi")),
            ).select("rel")
        hit = _static(probe.distinct(), planning=True).collect()
        kept = sorted({r["rel"] for r in hit} | set(unknown))
        n_range = len(kept)
        if self.config.bloom_index:
            # filter phase: range-survivors whose bloom rules every key out drop
            # too — the index that works when keys are random, not clustered
            kept = self._bloom_prune(kept, keys_df)
        self.last_key_prune = {
            "total": len(rels),
            "candidates": len(kept),
            **({"bloom_pruned": n_range - len(kept)} if self.config.bloom_index else {}),
        }
        return kept

    def scan(self, filters: list[tuple] | None = None, as_of: str | None = None) -> DataFrame:
        """Data-skipping snapshot scan: prune files whose recorded [min, max]
        cannot satisfy ``filters`` (list of ``(col, op, value)`` with op in
        =, <, <=, >, >=), then apply the same predicates to the surviving rows.

        MOR tables with pending logs still prune: base files are kept when
        their column stats match OR their record-key range overlaps a log key
        (a pruned base row may be the precombine winner over a log row — it
        must join the merge), and all logs are read. Safe exactly when the
        base set holds one version per key (COW writes, compaction and split
        outputs guarantee this; blind ``bulk_insert`` duplicates are the
        documented exception). Pruned file count is observable at
        ``last_scan`` for IO accounting/tests.

        Index routing: when a CURRENT-snapshot scan (``as_of=None``) carries
        an equality predicate on an indexed column, the file set comes from
        the secondary index (value → keys → range/bloom prune) instead of the
        col-stats bounds — exact candidates for high-cardinality columns
        whose per-file min/max spans everything. The remaining predicates are
        re-applied to the index-pruned rows. Time-travel scans never route
        through indexes (an entry for a key deleted before the index was
        built is legitimately absent, so historical completeness isn't
        guaranteed — current-snapshot completeness is).
        """
        self.last_scan_partitions = None  # set iff partition stats consulted
        if as_of is None and filters:
            for col, op, val in filters:
                if op != "=":
                    continue
                # record-key equality rides the record-level index first —
                # exact holder files, no value→key→file indirection
                if self.config.record_key == [col] and self._record_index_ready():
                    out = self.lookup_key(val)
                    self.last_scan = dict(self.last_record_lookup)
                else:
                    name = self._index_for(col)
                    if name is None:
                        continue
                    out = self.lookup_indexed(name, val)
                    self.last_scan = dict(self.last_index_lookup)
                rest = _filter_cond(filters, skip=(col, op, val))
                return out.filter(rest) if rest is not None else out
        conds = _filter_cond(filters)
        files, _ = self.timeline.live_files(normalize_as_of(as_of) if as_of else None)
        log_rels = sorted(r for r, (_, a) in files.items() if a == "deltacommit")
        if not filters or not self.config.stats_cols:
            self.last_scan = {"total": len(files), "scanned": len(files), "pruned": 0}
            df = self.read(as_of=as_of)
            return df.filter(conds) if conds is not None else df
        stats = self._load_file_stats()
        base_rels = sorted(r for r in files if r not in set(log_rels))
        # partition-stats gate first (Hudi 1.0 PARTITION_STATS): partitions
        # whose envelope can't match never have their file stats consulted —
        # O(partitions) metadata decides before anything O(files) is touched.
        # Partitions without an envelope (pre-index files, tombstoned cols)
        # always pass. File-level stats then refine within survivors. A file
        # dropped at EITHER granularity still enters the MOR log-overlap
        # re-add below, so partition pruning is never lossy against logs.
        part_keep = None
        if self.config.partition_by:
            pstats, covered = self._partition_stats_with_coverage()
            if pstats:
                parts_of = {r: self._partition_path_of(r) for r in base_rels}
                parts = set(parts_of.values())
                # a partition holding ANY file from an instant the envelopes
                # never aggregated (pre-index commits, legacy sidecars) is
                # kept unconditionally — its envelope describes only the
                # covered files and pruning on it would be lossy
                uncovered = {
                    parts_of[r] for r in base_rels if files[r][0] not in covered
                }
                part_keep = {
                    p
                    for p in parts
                    if p in uncovered or _file_may_match(pstats.get(p), filters)
                }
                self.last_scan_partitions = {
                    "total": len(parts),
                    "kept": len(part_keep),
                }
        keep = [
            r
            for r in base_rels
            if (part_keep is None or self._partition_path_of(r) in part_keep)
            and _file_may_match(stats.get(r), filters)
        ]
        if log_rels:
            # MOR with pending logs: a pruned base row could be the precombine
            # winner over a log row of the same key (emitting the stale log
            # version would be wrong), so base files whose record-key range
            # overlaps any log key are read regardless of their column stats;
            # logs are always read in full. Data-skipping still prunes every
            # base file the logs don't touch.
            dropped = [r for r in base_rels if r not in set(keep)]
            log_keys = self._read_files(log_rels, with_deleted=True).select(META_KEY)
            keep = sorted(set(keep) | set(self._prune_files_by_keys(dropped, log_keys)))
        rels = sorted(set(keep) | set(log_rels))
        self.last_scan = {
            "total": len(files),
            "scanned": len(rels),
            "pruned": len(files) - len(rels),
        }
        df = self._snapshot_of(files, rels).drop(*META_COLS)
        return df.filter(conds) if conds is not None else df

    def cluster_small_files(
        self, target_bytes: int = 8 * 1024 * 1024, small_limit: int | None = None
    ) -> str | None:
        """Small-file clustering — Hudi's most-exercised clustering mode
        (``hoodie.clustering.plan.strategy.small.file.limit`` +
        ``target.file.max.bytes``): per partition, bin-pack live base files
        smaller than ``small_limit`` into bins of ~``target_bytes`` and
        rewrite each bin as one file. Planning is file-size METADATA only
        (one os.stat per live file — no data reads, no snapshot job);
        execution is a pure copy (rows keep their original
        ``_hoodie_commit``), so commits landing between plan and publish
        still supersede the output at read time and the publish uses
        file-scoped OCC — only a concurrent remover of its input files
        aborts it.

        Streaming ingest at 100 TB produces exactly this pathology — many
        small per-trigger files per partition — and consolidating them is
        O(small bytes), never a table rewrite. Bins are first-fit-decreasing;
        single-file bins are left alone (rewriting one file buys nothing).
        MOR tables with live logs return None (compact first — same rule as
        layout clustering, for the same cross-partition log-chain reason).
        Returns the replacecommit instant, or None if nothing to do."""
        small_limit = small_limit or target_bytes // 2
        files, latest = self.timeline.live_files()
        if any(a == "deltacommit" for _, a in files.values()):
            return None
        cand: dict[str, list[tuple[int, str]]] = {}
        for r in sorted(files):
            p = os.path.join(self.base, r)
            try:
                sz = os.path.getsize(p)
            except OSError:
                continue  # raced a cleaner; the publish re-validates
            if sz < small_limit:
                cand.setdefault(self._partition_of(r), []).append((sz, r))
        bins: list[list[str]] = []
        for part in sorted(cand):
            part_bins: list[list] = []  # [remaining_bytes, [rels]]
            for sz, r in sorted(cand[part], reverse=True):  # first-fit decreasing
                for b in part_bins:
                    if b[0] >= sz:
                        b[0] -= sz
                        b[1].append(r)
                        break
                else:
                    part_bins.append([target_bytes - sz, [r]])
            bins.extend(b[1] for b in part_bins if len(b[1]) >= 2)
        if not bins:
            return None
        rewrite = sorted(r for b in bins for r in b)
        # route every row to its bin by source-file BASENAME (unique per
        # Spark part-file; sidesteps input_file_name URI-encoding, same
        # device _record_entries_for uses); one range partition per bin →
        # one output file per bin
        bin_of = {os.path.basename(r): i for i, b in enumerate(bins) for r in b}
        mapping = F.expr(_sql_map_lit(sorted(bin_of.items())))
        instant = new_instant()
        current = self._snapshot_of(files, rewrite)
        out = (
            current.withColumn(
                "__bin",
                F.element_at(
                    mapping, F.element_at(F.split(F.input_file_name(), "/"), -1)
                ),
            )
            .repartitionByRange(len(bins), "__bin")
            .drop("__bin")
        )
        rels = self._write_files(out, instant, preserve_layout=True)
        self._publish_occ(
            Instant(
                instant,
                "replacecommit",
                rels,
                rewrite,
                {
                    "operation": "cluster_small_files",
                    "numFilesIn": len(rewrite),
                    "numOutputFileGroups": len(rels),
                    "target_bytes": target_bytes,
                    "small_limit": small_limit,
                },
            ),
            since=latest,
            partitions={self._partition_of(r) for r in rewrite},
            occ_scope="files",
        )
        return instant

    def cluster_sort(self, cols: list[str], n_files: int | None = None) -> str | None:
        """Sort-based clustering (Hudi clustering sort strategy): rewrite live
        files range-partitioned + sorted on ``cols`` so their min/max ranges
        become disjoint and ``scan`` pruning turns selective predicates into
        O(files_touched) IO. View-preserving replacecommit, like ``cluster``.

        The layout signature includes the resolved target file count, so
        re-clustering with a different ``n_files`` is a real rewrite, not an
        incremental no-op (passing None resolves against the current
        parallelism — a changed cluster size then legitimately re-lays-out)."""
        return self._cluster_now(self._clustering_layout("sort", cols, n_files))

    def cluster_zorder(
        self,
        cols: list[str],
        n_files: int | None = None,
        bits: int = 8,
        build: str = "uniform",
    ) -> str | None:
        """Z-order clustering: interleave the bit representations of
        quantized columns into one morton key, then range-layout on it — files
        get locality in EVERY listed dimension, so ``scan`` prunes on any of
        them (the multi-column answer where ``cluster_sort`` only helps its
        leading column). ``build="uniform"`` quantizes between one tiny
        min/max agg; ``build="sample"`` uses rank-based approxQuantile
        boundaries (Hudi's sample build) so skewed dimensions keep their
        pruning power. The interleave is pure JVM bit arithmetic."""
        return self._cluster_now(self._clustering_layout("zorder", cols, n_files, bits, build))

    def cluster_hilbert(
        self,
        cols: list[str],
        n_files: int | None = None,
        bits: int = 8,
        build: str = "uniform",
    ) -> str | None:
        """Hilbert-curve clustering (``hoodie.layout.optimize.strategy=
        hilbert``): like :meth:`cluster_zorder` but ordered by Hilbert
        distance — consecutive curve positions are always orthogonal grid
        neighbours, so per-file bucket ranges come out tighter than the
        morton interleave's z-jumps and ``scan`` prunes at least as well on
        every listed dimension."""
        return self._cluster_now(self._clustering_layout("hilbert", cols, n_files, bits, build))

    @staticmethod
    def _bucket_exprs(
        df: DataFrame, cols: list[str], bits: int, build: str = "uniform"
    ) -> list:
        """Quantized bucket expressions (bigint in [0, 2**bits)) per column.

        ``build="uniform"``: equal-width buckets between one tiny min/max agg
        — Hudi's default spatial-curve build. ``build="sample"``: RANK-based
        boundaries from ``approxQuantile`` (Hudi's
        ``hoodie.layout.optimize.build.curve.sample.*`` method) — under a
        skewed dimension equal-width quantization collapses most rows into
        one bucket and that dimension stops contributing pruning power;
        equal-HEIGHT buckets keep every bucket populated. The per-row bucket
        is ``count(boundaries < x)`` over the broadcast boundary array
        (JVM higher-order filter — O(2^bits) comparisons per row, paid only
        inside a clustering rewrite that rewrites every byte anyway). Either
        way bounds are quantization hints only — per-file min/max stats stay
        truthful regardless, which is all ``scan`` pruning relies on."""
        n_buckets = 1 << bits
        out = []
        if build == "sample":
            probs = [i / n_buckets for i in range(1, n_buckets)]
            allq = df.approxQuantile([c for c in cols], probs, 0.001)
            for c, qs in zip(cols, allq):
                arr = F.array(*[F.lit(float(q)) for q in qs])
                out.append(
                    F.size(
                        F.filter(arr, lambda b: b < F.col(c).cast("double"))
                    ).cast("bigint")
                )
            return out
        if build != "uniform":
            raise ValueError(f"unknown curve build method {build!r}")
        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        for c in cols:
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            span = ((hi - lo) if lo is not None and hi is not None else 0) or 1.0
            out.append(
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor(
                        (F.col(c).cast("double") - F.lit(lo if lo is not None else 0.0))
                        / F.lit(span)
                        * n_buckets
                    ),
                ).cast("bigint")
            )
        return out

    @classmethod
    def _zorder_expr(cls, df: DataFrame, cols: list[str], bits: int, build: str = "uniform"):
        """Morton-interleave expression over quantized columns —
        pure JVM bit arithmetic (no UDF)."""
        z = F.lit(0).cast("bigint")
        for ci, b in enumerate(cls._bucket_exprs(df, cols, bits, build)):
            for bit in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * len(cols) + ci
                ).cast("bigint")
        return z

    @classmethod
    def _hilbert_expr(cls, df: DataFrame, cols: list[str], bits: int, build: str = "uniform"):
        """Hilbert-distance expression over quantized columns
        (Hudi's third ``hoodie.layout.optimize.strategy``): same quantization
        as z-order, curve position via the Arrow-vectorized Skilling
        transform (see :mod:`hudi_examples_spark.table.hilbert` for why the
        recurrence can't unroll into Catalyst expressions)."""
        from hudi_examples_spark.table.hilbert import hilbert_udf

        return hilbert_udf(len(cols), bits)(*cls._bucket_exprs(df, cols, bits, build))

    def _clustering_layout(
        self,
        strategy: str,
        cols: list[str],
        n_files: int | None = None,
        bits: int = 8,
        build: str = "uniform",
    ) -> dict:
        """The layout spec of one clustering ``strategy`` (``"sort"``,
        ``"zorder"`` or ``"hilbert"``): what a plan pins, what its
        replacecommit records, and the identity ``_layout_violations`` checks
        live files against. Curve bits and build and the resolved target file
        count are part of it — a different quantization or file count is a
        different layout, never an incremental no-op."""
        if self.config.n_buckets or self.config.bucket_ranges:
            raise ValueError("sort/zorder clustering conflicts with bucket-index routing")
        n = n_files or max(self.spark.sparkContext.defaultParallelism, 8)
        if strategy == "sort":
            return {"operation": "cluster_sort", "sort_cols": list(cols), "target_files": n}
        if strategy not in ("zorder", "hilbert"):
            raise ValueError(f"unknown clustering strategy {strategy!r}")
        return {
            "operation": f"cluster_{strategy}",
            f"{strategy}_cols": list(cols),
            f"{strategy}_bits": bits,
            f"{strategy}_build": build,
            "target_files": n,
        }

    def _layout_sort_exprs(self, layout: dict, df: DataFrame) -> list:
        """A layout's range-sort expressions over ``df``, the rows being
        rewritten: the sort columns, or one curve position whose quantization
        bounds come from ``df`` itself (per-file min/max stats stay truthful
        whatever the bounds, which is all ``scan`` pruning relies on)."""
        if layout["operation"] == "cluster_sort":
            return [F.col(c) for c in layout["sort_cols"]]
        s = layout["operation"].removeprefix("cluster_")
        curve = self._zorder_expr if s == "zorder" else self._hilbert_expr
        return [
            curve(df, layout[f"{s}_cols"], layout[f"{s}_bits"], layout.get(f"{s}_build", "uniform"))
        ]

    def _clustering_plan(self, layout: dict) -> Instant | None:
        """Plan one clustering against the current snapshot, unwritten: the
        out-of-layout files to rewrite and their partitions, or None when the
        table is fully in layout (one timeline walk, no data IO).

        Incremental (Hudi schedules clustering per file group, never per
        table): a partition needs rewriting iff it holds at least one
        out-of-layout live file, so at 100 TB a table with 1% churned
        partitions re-clusters ~1% of its bytes. MOR tables with live log
        files plan a full rewrite instead (``partitions`` None): a log row may
        supersede a base row in ANOTHER partition, so partition-scoped base
        rewrites could resurrect stale versions — compact first to get the
        incremental plan. ``schedule_clustering`` never writes a full plan."""
        files, _ = self.timeline.live_files()
        if any(a == "deltacommit" for _, a in files.values()):
            rewrite, parts = sorted(files), None
        else:
            v = self._layout_violations(layout, files)
            if v is None:
                return None
            rewrite, parts = v[0], sorted(v[1])
        return Instant(
            new_instant(),
            "clusteringplan",
            [],
            [],
            {
                "operation": "clustering_schedule",
                "layout": layout,
                "rewrite": rewrite,
                "partitions": parts,
            },
        )

    def _cluster_now(self, layout: dict) -> str | None:
        """Inline clustering: the plan ``schedule_clustering`` would cut,
        held in memory and executed at once (Hudi's ``--mode
        scheduleAndExecute``)."""
        plan = self._clustering_plan(layout)
        return None if plan is None else self._execute_clustering(plan)

    def _execute_clustering(self, plan: Instant) -> str | None:
        """Execute one clustering plan, scheduled or inline: snapshot the
        planned files, range-sort them on the layout, write, publish one
        replacecommit. Table services take the same lock as writers (Hudi
        requires this for clustering).

        Validation: every planned file must still be live — a COW rewrite,
        compaction, ``delete_partition``, rollback, or competing clusterer
        that replaced any of them voids the plan (returns None). New files
        added since the plan — base or log, any partition — are fine for a
        base-only plan: the rewrite is a pure copy that preserves per-row
        commit instants, so newer commits supersede it at read exactly as
        they did the original files, and the publish uses file-scoped OCC —
        only a concurrent remover of planned files aborts. A full-rewrite
        plan bakes the log merge into its output, so it conflicts with any
        commit after its snapshot."""
        files, latest = self.timeline.live_files()
        rewrite, parts = plan.meta["rewrite"], plan.meta["partitions"]
        if parts is None and set(files) != set(rewrite):
            raise ConcurrentWriteConflict("full-table rewrite conflicts with a concurrent commit")
        if not set(rewrite) <= set(files):
            return None
        layout = plan.meta["layout"]
        instant = new_instant()
        current = self._snapshot_of(files, rewrite)
        sort_exprs = self._layout_sort_exprs(layout, current)
        out = (
            current.repartitionByRange(layout["target_files"], *sort_exprs)
            .sortWithinPartitions(*sort_exprs)
            .select(*current.columns)  # drop any helper sort expression
        )
        rels = self._write_files(out, instant, preserve_layout=True)
        self._publish_occ(
            Instant(
                instant,
                "replacecommit",
                rels,
                sorted(rewrite),
                {
                    **layout,
                    "numOutputFileGroups": len(rels),
                    "numPartitionsRewritten": len(parts) if parts is not None else -1,
                },
            ),
            since=latest,
            partitions=None if parts is None else set(parts),
            occ_scope="files" if parts is not None else "partition",
        )
        return instant

    def _layout_violations(
        self, layout_sig: dict, old_files: dict
    ) -> tuple[list[str], set[str]] | None:
        """Which live files are OUT of the given clustering layout, grouped by
        partition: a file is in layout iff the commit that added it was a
        clustering replacecommit carrying this exact layout spec. Returns
        (rewrite file list, violating partitions), or None when the table is
        fully in layout — one timeline walk, no data IO."""
        inst_meta = {i.instant: i.meta for i in self.timeline.completed_data_instants()}

        def _in_layout(rel: str) -> bool:
            m = inst_meta.get(old_files[rel][0]) or {}
            return all(m.get(k) == v for k, v in layout_sig.items())

        viol_parts = {self._partition_of(r) for r in old_files if not _in_layout(r)}
        if not viol_parts:
            return None
        rewrite = sorted(r for r in old_files if self._partition_of(r) in viol_parts)
        return rewrite, viol_parts

    def schedule_clustering(
        self,
        cols: list[str],
        n_files: int | None = None,
        strategy: str = "sort",
        bits: int = 8,
        build: str = "uniform",
    ) -> str | None:
        """Cut a ``clusteringplan`` instant (Hudi's ``replacecommit.requested``
        for async clustering — the reference enables exactly this split with
        ``hoodie.clustering.async.enabled=true`` and a plan-strategy class,
        ``flink/src/main/resources/clusteringjob.properties:1,12``): the plan
        pins the exact out-of-layout files to rewrite and the target layout
        of ``strategy`` (``"sort"``, ``"zorder"`` or ``"hilbert"``), so a
        different process — the async clustering job, ``run_services`` —
        executes it later with :meth:`run_clustering` while writers keep
        committing.

        Plans cover BASE files only: with live MOR logs present this returns
        None (compact first — ``run_services`` orders compaction before
        clustering for exactly this reason). That restriction is what makes
        execution a pure re-layout COPY (no merge is baked into the output,
        rows keep their original ``_hoodie_commit``), so any commit landing
        between schedule and execute still supersedes the re-laid-out base at
        read time and execution conflicts only with a REMOVER of planned
        files. Returns None too when the table is already fully in layout."""
        plan = self._clustering_plan(self._clustering_layout(strategy, cols, n_files, bits, build))
        if plan is None or plan.meta["partitions"] is None:
            return None
        self.timeline.write(plan)
        return plan.instant

    def pending_clusterings(self) -> list[Instant]:
        """Scheduled-but-not-executed clustering plans, oldest first."""
        return sorted(
            (i for i in self.timeline.instants() if i.action == "clusteringplan"),
            key=lambda i: i.instant,
        )

    def run_clustering(self, plan_instant: str | None = None) -> str | None:
        """Execute a scheduled clustering plan (the async clustering job half
        of Hudi's schedule/execute split; execution-strategy analogue of
        ``clusteringjob.properties:8`` run as its own job) with the executor
        the inline ``cluster_*`` calls use. A voided plan is discarded
        (returns None; the next ``schedule_clustering`` plans against current
        state); a lost OCC race leaves it pending for the next run."""
        plan = self._next_plan(self.pending_clusterings(), plan_instant)
        if plan is None:
            return None
        out = self._execute_clustering(plan)
        self.timeline.remove(plan.instant)  # executed, or stale and discarded
        return out

    @staticmethod
    def _next_plan(pending: list[Instant], plan_instant: str | None) -> Instant | None:
        """The plan a ``run_*`` executor runs: ``plan_instant`` if it is
        pending, else the oldest pending plan."""
        if plan_instant is not None:
            pending = [i for i in pending if i.instant == plan_instant]
        return pending[0] if pending else None

    @staticmethod
    def _partition_of_relpath(rel: str) -> dict[str, str]:
        vals = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                vals[k] = v
        return vals

    def _read_files(
        self, rels: list[str], with_deleted: bool, with_partial: bool = False
    ) -> DataFrame:
        if not rels:
            return self._empty(with_deleted, with_partial)
        paths = [os.path.join(self.base, r) for r in rels]
        # the read schema is DECLARED, never inferred: the table knows its own
        # schema, so footer inference (a Spark job per read) and mergeSchema
        # (a job + every footer) are both unnecessary — files written before a
        # schema evolution null-fill their missing columns by name, which is
        # exactly the merged-read semantics at zero planning cost
        # rename mapping: files written before a rename hold the data under a
        # historical physical name — read those names too (nullable, at the
        # current declared type: the widened-read path) and coalesce by chain
        # (each file carries exactly one name of a chain, so coalesce is a
        # disjoint union, not a precedence choice)
        hist_map: dict[str, list[str]] = {}
        hist_fields: list[StructField] = []
        if self.config.renames:
            for f_ in self.schema.fields:
                hs = [h for h in self._historical_names(f_.name) if h not in self.schema.names]
                if hs:
                    hist_map[f_.name] = hs
                    hist_fields += [StructField(h, f_.dataType, True) for h in hs]
        read_schema = StructType(
            list(_meta_struct().fields)
            + ([StructField(META_DELETED, BooleanType())] if with_deleted else [])
            + (
                [StructField(META_PARTIAL, ArrayType(StringType()), True)]
                if with_partial
                else []
            )
            + list(self.schema.fields)
            + hist_fields
        )
        df = (
            self.spark.read.schema(read_schema)
            .option("basePath", self.base)
            .parquet(*paths)
        )
        if hist_map:
            df = df.withColumns(
                {
                    logical: F.coalesce(F.col(logical), *[F.col(h) for h in hs])
                    for logical, hs in hist_map.items()
                }
            )
        if with_deleted and META_DELETED not in df.columns:
            df = df.withColumn(META_DELETED, F.lit(False))
        if with_deleted:
            cols = [META_DELETED, *META_COLS, *self.data_cols]
        else:
            cols = [*META_COLS, *self.data_cols]
        if with_partial:
            cols = [META_PARTIAL, *cols]
        # tolerate mixed file schemas (logs carry the tombstone flag, bases don't;
        # pre-evolution files miss later columns) — null-fill with declared types
        have = set(df.columns)
        if not have.issuperset(cols):
            fills = {}
            for c in cols:
                if c in have:
                    continue
                if c in self.schema.names:
                    fills[c] = F.lit(None).cast(self.schema[c].dataType)
                elif c == META_DELETED:
                    fills[c] = F.lit(False)
                else:
                    fills[c] = F.lit(None).cast("string")
            df = df.withColumns(fills)
        if META_DELETED in cols:
            df = df.withColumn(META_DELETED, F.coalesce(F.col(META_DELETED).cast(BooleanType()), F.lit(False)))
        df = df.select(*cols)
        bi = self.config.bootstrap_instant
        if bi:
            # bootstrap files carry no _hoodie_* columns (declared-schema read
            # null-fills them): synthesize — commit = the bootstrap instant,
            # key/partition from the data itself. Coalesce keeps natively-
            # written files' values; pure projections, collapse into the scan.
            repl = {
                META_COMMIT: F.coalesce(F.col(META_COMMIT), F.lit(bi)),
                META_PARTITION: F.expr(
                    f"coalesce({_sql_ident(META_PARTITION)}, {self._partition_sql()})"
                ),
            }
            if self.config.record_key:
                repl[META_KEY] = F.expr(f"coalesce({_sql_ident(META_KEY)}, {self._key_sql()})")
            df = df.withColumns(repl)
        return df

    def _conform(self, df: DataFrame) -> DataFrame:
        """Align an incoming batch with the declared schema (schema-on-write
        evolution, Hudi semantics): batch columns the table doesn't know are
        ADDED to the table schema as nullable (auto-evolution); declared
        columns the batch misses are null-filled; declared columns that
        arrive at a DIFFERENT dtype are reconciled — the table schema is
        WIDENED when the batch type is a safe promotion of the declared type
        (int→long, float→double, decimal growth: Hudi's type-promotion rules;
        parquet files written at the narrower type stay readable because the
        Spark 4 parquet reader supports widened reads), otherwise the batch
        column is CAST to the declared type. Without this, an inferred-wider
        batch (``spark.createDataFrame(py_int_rows, ...)`` infers bigint into
        an INT column — the normal shape of the reference's JSON-inferred
        writes, ``TestAutomationUtils.scala:31``) would be written as INT64
        and poison every later declared-schema read. Returns data_cols order."""
        if self.config.renames:
            # a batch addressing a column by a historical (pre-rename) name
            # writes the CURRENT column — the write-side mirror of the read
            # chain coalesce; without this a stale writer would fork the
            # renamed column back into existence under its old name
            for f_ in self.schema.fields:
                for h in self._historical_names(f_.name):
                    if h in df.columns and f_.name not in df.columns:
                        df = df.withColumnRenamed(h, f_.name)
        # dropped names are tombstoned and rename-log 'from' names are
        # reserved: auto-evolution must resurrect neither (a batch carrying
        # BOTH an old and new name of a chain sheds the old one here)
        blocked = set(self.config.dropped_cols) | self._historical_reserved()
        extra = [c for c in df.columns if c not in self.schema.names and c not in blocked]
        widened = bool(extra)
        for c in extra:
            self.schema = self.schema.add(c, df.schema[c].dataType, True)
        for f_ in self.schema.fields:
            if f_.name in df.columns:
                batch_t = df.schema[f_.name].dataType
                if batch_t != f_.dataType and _promotes(f_.dataType, batch_t):
                    # batch is strictly wider: promote the declared schema —
                    # only the TYPE changes; declared nullability (incl.
                    # non-null record keys) is preserved field by field
                    self.schema = StructType(
                        [
                            StructField(
                                x.name,
                                batch_t if x.name == f_.name else x.dataType,
                                x.nullable,
                            )
                            for x in self.schema.fields
                        ]
                    )
                    widened = True
        if widened:
            self.config.schema_version += 1
            # NOTE: the save union-merges with the on-disk schema (concurrent
            # evolution by another handle), so self.schema can GROW here —
            # the fill/cast map below must therefore be built AFTER this
            # point, against the final schema
            self._save_props()
        casts = {}
        for f_ in self.schema.fields:
            if f_.name not in df.columns:
                casts[f_.name] = F.lit(None).cast(f_.dataType)
            elif df.schema[f_.name].dataType != f_.dataType:
                casts[f_.name] = F.col(f_.name).cast(f_.dataType)
        if casts:
            df = df.withColumns(casts)
        return df.select(*self.data_cols)

    def add_columns(self, ddl) -> None:
        """Schema evolution: ALTER TABLE ADD COLUMNS. New columns are nullable;
        files written before the evolution read as null for them (merged-schema
        scan), newer writes carry them. Snapshots always present the CURRENT
        schema, including time-travel reads (Hudi's behavior). Accepts a DDL
        string or a StructType (DDL parsing needs an active SparkContext;
        Spark-less admin handles pass the StructType)."""
        new = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
        reserved = self._historical_reserved()
        for f_ in new.fields:
            if f_.name in self.schema.names:
                raise ValueError(f"column {f_.name} already exists")
            if f_.name in self.config.dropped_cols:
                # name-based columns: re-adding a dropped name would resurrect
                # the old bytes still sitting in pre-drop files (Hudi's
                # parquet name-based mode restricts this the same way)
                raise ValueError(
                    f"column {f_.name} was dropped; pick a new name (old files still "
                    "hold its bytes under this name)"
                )
            if f_.name in reserved:
                # a rename-log 'from' name: old files still hold the RENAMED
                # column's data under this name — re-adding it would both leak
                # those bytes into the new column and break the read-side
                # chain coalesce of the renamed column
                raise ValueError(
                    f"column {f_.name} is a historical name of a renamed column; "
                    "pick a new name"
                )
        for f_ in new.fields:
            self.schema = self.schema.add(f_.name, f_.dataType, True)
        self.config.schema_version += 1
        self._save_props()

    def _protected_cols(self) -> set[str]:
        out = set(self.config.record_key) | set(self.config.partition_by)
        if self.config.precombine:
            out.add(self.config.precombine)
        return out

    def _historical_reserved(self) -> set[str]:
        """Every rename-log 'from' name: reserved forever — old files still
        hold renamed-column data under these names, so they may never be
        (re)introduced as fresh columns."""
        return {frm for frm, _to in self.config.renames}

    def drop_columns(self, cols: list[str]) -> None:
        """Schema evolution: ALTER TABLE DROP COLUMN(S) — metadata-only (Hudi
        drop semantics): the column leaves the declared read schema and the
        bytes in existing files are simply never read again; no rewrite.
        Record-key / precombine / partition columns are protected. A
        tombstone in the config stops the concurrent-evolution schema union
        from resurrecting the column out of an older handle's props."""
        cols = list(cols)
        protected = self._protected_cols()
        for c in cols:
            if c not in self.schema.names:
                raise ValueError(f"column {c} does not exist")
            if c in protected:
                raise ValueError(f"column {c} is a key/precombine/partition column")
            self._reject_indexed_column(c, "drop")
        drop = set(cols)
        # tombstone the whole rename chain, not just the logical name: old
        # files hold the dropped column's data under every historical name,
        # and any of them could otherwise be re-added (explicitly or by batch
        # auto-evolution) and resurrect those bytes. The rename log itself is
        # kept — merge replay must stay consistent across stale handles.
        for c in cols:
            drop.update(self._historical_names(c))
        self.schema = StructType([f for f in self.schema.fields if f.name not in drop])
        self.config.stats_cols = [c for c in self.config.stats_cols if c not in drop]
        self.config.dropped_cols = sorted(set(self.config.dropped_cols) | drop)
        self.config.schema_version += 1
        self._save_props()

    def rename_column(self, old: str, new: str) -> None:
        """Schema evolution: ALTER TABLE RENAME COLUMN — metadata-only. Files
        written before the rename keep the data under the old physical name;
        reads coalesce the current name with every historical name in the
        rename chain (each file carries exactly one of them), so no rewrite
        happens and no data disappears. Key/precombine/partition columns are
        protected (their names are baked into config, keys, and layouts —
        Hudi restricts these the same way)."""
        if old not in self.schema.names:
            raise ValueError(f"column {old} does not exist")
        if new in self.schema.names:
            raise ValueError(f"column {new} already exists")
        if new in self.config.dropped_cols:
            raise ValueError(f"column {new} was dropped; its name is tombstoned")
        if new in self._historical_reserved():
            raise ValueError(
                f"column {new} is a historical name of a renamed column; pick a new name"
            )
        if old in self._protected_cols():
            raise ValueError(f"column {old} is a key/precombine/partition column")
        self._reject_indexed_column(old, "rename")
        self.schema = StructType(
            [
                StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in self.schema.fields
            ]
        )
        self.config.stats_cols = [new if c == old else c for c in self.config.stats_cols]
        self.config.renames = list(self.config.renames) + [[old, new]]
        self.config.schema_version += 1
        self._save_props()

    def _historical_names(self, logical: str) -> list[str]:
        """Every prior physical name of ``logical``, newest first, by walking
        the rename log backwards (chains supported: a→b→c gives [b, a])."""
        out: list[str] = []
        cur = logical
        for frm, to in reversed(self.config.renames):
            if to == cur:
                out.append(frm)
                cur = frm
        return out

    def _commit_order_expr(self):
        """Commit-recency expression for version resolution — Hudi 1.0
        COMPLETION-time semantics (non-blocking concurrency control): the
        instant id is the BEGIN time, and two MOR log writers publishing
        without locks can complete in the opposite order they minted; the
        version that committed LAST must win ties, whatever its begin time.

        Fast path: when the timeline's completion order equals begin order
        (single writer, OCC-serialized COW — the overwhelmingly common
        case), the raw commit column is returned and plans are byte-
        identical to the begin-ordered ones. Only a timeline that actually
        experienced out-of-order completion pays for the (bounded, archival-
        capped) instant→rank literal map; commits absent from the map — the
        in-flight write's own instant riding a COW merge — rank newest, the
        same position begin ordering gave them.

        The slow path returns a ``struct(rank, begin_instant)`` — Spark
        structs compare lexicographically, so every consumer (window
        orderBy, ``max`` delete-epoch windows, ``>`` comparisons) gets begin
        order as the tiebreak among equal ranks for free. That matters for
        the shared rank-0 ARCHIVED bucket: two archived commits (e.g. a
        tombstone then a re-insert, both folded past the active floor) still
        resolve among themselves by instant id, so the re-insert's
        ``cseq > last_del`` holds and read/compaction keep the row."""
        order = self.timeline.completion_order()
        if order is None:
            return F.col(META_COMMIT)
        mapping = F.expr(_sql_map_lit(sorted(order.items())))
        # commits absent from the map are either ARCHIVED (folded into the
        # checkpoint — older than every active instant, rank 0) or the
        # in-flight write's own instant (newer than everything, rank len+1);
        # the active-instant floor separates the two exactly
        floor = min(order)
        rank = F.coalesce(
            F.element_at(mapping, F.col(META_COMMIT)),
            F.when(F.col(META_COMMIT) < F.lit(floor), F.lit(0)).otherwise(
                F.lit(len(order) + 1)
            ),
        )
        return F.struct(rank.alias("r"), F.col(META_COMMIT).alias("b"))

    def _latest_wins(self, df: DataFrame) -> DataFrame:
        """Resolve multiple versions of a key: max precombine, then newest commit
        (completion order — see ``_commit_order_expr``).

        Parity: precombine semantics of ``DeltaStreamerExample.scala:16,27`` (larger
        ordering value wins; ties → latest write wins).
        """
        if not self.config.record_key:
            return df
        order = []
        if self.config.precombine:
            order.append(F.desc(self.config.precombine))
        order.append(F.desc(self._commit_order_expr()))
        w = Window.partitionBy(META_KEY).orderBy(*order)
        return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    def _merge_mor(self, df: DataFrame) -> DataFrame:
        """MOR base+log resolution with delete epochs: a tombstone invalidates all
        versions committed at-or-before it (delete-by-key wins regardless of
        precombine — Hudi EmptyPayload semantics), while later commits resurrect the
        key. Two window expressions over one key-shuffle. When the input carries
        the META_PARTIAL column (live partial-update logs) the resolution is
        COLUMN-level instead of row-level — same shuffle shape.
        """
        if not self.config.record_key:
            return df.filter(~F.col(META_DELETED))
        # delete epochs follow the same completion-order recency as version
        # resolution (a tombstone completed last invalidates everything that
        # completed before it, whatever the begin times)
        cseq = self._commit_order_expr()
        w = Window.partitionBy(META_KEY)
        df = df.withColumn("__cseq", cseq).withColumn(
            "__last_del", F.max(F.when(F.col(META_DELETED), F.col("__cseq"))).over(w)
        )
        alive = df.filter(
            (~F.col(META_DELETED))
            & (F.col("__last_del").isNull() | (F.col("__cseq") > F.col("__last_del")))
        ).drop("__last_del", "__cseq")
        if META_PARTIAL in df.columns:
            return self._merge_partial(alive)
        return self._latest_wins(alive)

    def _merge_partial(self, alive: DataFrame) -> DataFrame:
        """Column-level merge (Hudi 1.0 partial updates): per key, each data
        column resolves to the value of the NEWEST version that SET it — full
        rows set every column, partial rows only the ones listed in their
        META_PARTIAL array. Wrapping candidate values in a struct keeps
        "set to null by a row that listed the column" distinct from "column
        not provided", so ``first(..., ignorenulls)`` walks versions newest-
        first per column. A key whose alive versions are all partial has no
        base row to patch — partial updates of absent/deleted keys are
        dropped (Hudi's partial payload contract). One key-shuffle, same as
        the row-level path; O(columns) window expressions, all codegen."""
        order = []
        if self.config.precombine:
            order.append(F.desc_nulls_last(self.config.precombine))
        order.append(F.desc(self._commit_order_expr()))
        w = (
            Window.partitionBy(META_KEY)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        out_cols = {}
        for c in self.data_cols:
            setter = F.when(
                F.col(META_PARTIAL).isNull() | F.array_contains(META_PARTIAL, c),
                F.struct(F.col(c).alias("v")),
            )
            out_cols[c] = F.first(setter, ignorenulls=True).over(w).getField("v")
        has_full = F.max(
            F.when(F.col(META_PARTIAL).isNull(), F.lit(1)).otherwise(F.lit(0))
        ).over(Window.partitionBy(META_KEY))
        rn_w = Window.partitionBy(META_KEY).orderBy(*order)
        return (
            alive.withColumns(out_cols)
            .withColumn("__has_full", has_full)
            .withColumn("__rn", F.row_number().over(rn_w))
            .filter((F.col("__rn") == 1) & (F.col("__has_full") == 1))
            .drop("__rn", "__has_full", META_PARTIAL)
        )

    def update_partial(self, df: DataFrame, extra_meta: dict | None = None) -> str:
        """Hudi 1.0 partial update: a log commit carrying ONLY the provided
        columns (plus keys and precombine) — the write-amplification answer
        for wide tables where a stream touches 2 of 200 columns. Absent
        columns are recorded in the row's META_PARTIAL list and resolved
        column-by-column at read/compaction time (``_merge_partial``); a
        partial update can therefore also SET a column to null, but cannot
        create a new key (no base row to patch — such rows are dropped).
        MOR-only by construction: COW would have to read-modify-write anyway,
        which is exactly ``merge``."""
        if self.config.table_type != "mor" or not self.config.record_key:
            raise ValueError("update_partial requires a MOR table with a record key")
        missing_keys = [k for k in self.config.record_key if k not in df.columns]
        if missing_keys:
            raise ValueError(f"partial update batch missing key columns {missing_keys}")
        if self.config.precombine and self.config.precombine not in df.columns:
            raise ValueError(
                f"partial update batch must carry the precombine field "
                f"{self.config.precombine!r} (it orders the column-level merge)"
            )
        self._merge_disk_schema()
        provided = [c for c in self.schema.names if c in df.columns]
        partial_cols = [
            c
            for c in provided
            if c not in self.config.record_key and c != self.config.precombine
        ]
        if not partial_cols:
            raise ValueError("partial update batch provides no data columns")
        # a mixed-reference expression index (some referenced columns provided,
        # some absent) can't be maintained from the log rows (absent cols are
        # null there) NOR left alone (its value changed): reject up front
        # rather than silently go incomplete
        for name in self.secondary_index_cols():
            meta = self._index_meta(name)
            refs = self._index_expr_refs(meta["expr"]) if meta else set()
            if refs & set(provided) and refs - set(provided):
                raise ValueError(
                    f"index {name!r} mixes provided and absent columns "
                    f"({sorted(refs)}); provide them all or drop/rebuild the index"
                )
        casts = {
            c: F.col(c).cast(self.schema[c].dataType)
            for c in provided
            if df.schema[c].dataType != self.schema[c].dataType
        }
        if casts:
            df = df.withColumns(casts)
        out = df.select(*provided)
        for c in self.schema.names:
            if c not in provided:
                out = out.withColumn(c, F.lit(None).cast(self.schema[c].dataType))
        instant = new_instant()
        out = (
            self._with_meta(out.select(*self.schema.names), instant)
            .withColumn(META_DELETED, F.lit(False))
            .withColumn(
                META_PARTIAL,
                F.array(
                    *[
                        F.lit(c)
                        for c in sorted(
                            set(partial_cols)
                            | ({self.config.precombine} if self.config.precombine else set())
                        )
                    ]
                ),
            )
        )
        rels = self._write_files(out, instant)
        self._maintain_indexes(rels, partial_cols=provided)
        self._publish_with_index_guard(
            Instant(
                instant,
                "deltacommit",
                rels,
                [],
                {"operation": "update_partial", "partial_cols": partial_cols, **(extra_meta or {})},
            )
        )
        return instant

    #: above this many live log bytes the distinct log-key set stops being
    #: safely broadcastable and the MOR merge falls back to one global
    #: key-shuffle window over base ∪ logs
    MOR_BROADCAST_LOG_BYTES = 256 * 1024 * 1024

    #: below this many live files a CDC read skips key-range pruning — on a
    #: small table two plain snapshot reads are cheaper than the pruning jobs
    CDC_PRUNE_MIN_FILES = 64

    #: even past the file-count bar, skip pruning when the combined snapshot
    #: bytes are this small — measured locally (sf0.1, 50×~50 KB files) the
    #: two-snapshot plan beats the pruned plan ~0.8 s vs ~1.2 s because the
    #: prune's fixed jobs dominate; the pruned path's win is IO (opens
    #: O(changes) files instead of 2×table), which only matters once files
    #: carry real data. Sizes come from a local stat sweep gated behind the
    #: file-count bar (on an object store the listing that produced the
    #: manifest carries sizes for free — never a per-file HEAD storm).
    CDC_PRUNE_MIN_BYTES = 64 * 1024 * 1024

    #: below this many live files a keyed write's location scan just reads
    #: them all — the pruning join is a Spark job whose fixed cost only pays
    #: for itself once the table has real file counts
    KEY_PRUNE_MIN_FILES = 32

    def _merge_mor_pruned(
        self, base_rels: list[str], log_rels: list[str], with_partial: bool = False
    ) -> DataFrame:
        """MOR snapshot merge whose shuffle is sized to the LOGS, not the table:
        base rows whose key no log touches stream through with NO exchange
        (broadcast anti-join against the distinct log keys); only rows of
        log-touched keys (their base versions ∪ all logs) go through the
        key-window resolution — a shuffle of O(changes). This is the Spark
        re-expression of Hudi's per-file-group merge (logs are tiny relative
        to base, so the merge work should be too); log size is known
        driver-side from the manifest, so the plan choice costs no job.
        Falls back to the single global key-window merge for pk-less tables or
        when live log bytes exceed MOR_BROADCAST_LOG_BYTES. Base files never
        carry live tombstones (initial loads and compaction outputs are merged
        views), so untouched base rows are final as-is."""
        base = self._read_files(base_rels, with_deleted=True, with_partial=with_partial)
        logs = self._read_files(log_rels, with_deleted=True, with_partial=with_partial)
        log_bytes = sum(
            os.path.getsize(p)
            for r in log_rels
            if os.path.exists(p := os.path.join(self.base, r))
        )
        if not self.config.record_key or log_bytes > self.MOR_BROADCAST_LOG_BYTES:
            return self._merge_mor(base.unionByName(logs)).drop(META_DELETED)
        keys = F.broadcast(logs.select(META_KEY).distinct())
        untouched = base.join(keys, META_KEY, "left_anti").filter(~F.col(META_DELETED))
        touched = base.join(keys, META_KEY, "left_semi")
        resolved = self._merge_mor(touched.unionByName(logs))
        # drop() of an absent column is a no-op: the partial-merge path strips
        # META_PARTIAL from `resolved`, so strip it from `untouched` too
        return untouched.drop(META_DELETED, META_PARTIAL).unionByName(
            resolved.drop(META_DELETED, META_PARTIAL)
        )

    # ------------------------------------------------------------------ reads

    def read(self, as_of: str | None = None, with_meta: bool = False) -> DataFrame:
        """S1/M10: snapshot (optionally time-travel) read of the latest merged view."""
        bound = normalize_as_of(as_of) if as_of else None
        files, _latest = self.timeline.live_files(bound)
        base_rels = [r for r, (_, a) in files.items() if a != "deltacommit"]
        log_rels = [r for r, (_, a) in files.items() if a == "deltacommit"]
        if self.config.table_type == "cow" or not log_rels:
            df = self._read_files(base_rels, with_deleted=False)
        else:
            df = self._merge_mor_pruned(
                base_rels, log_rels, with_partial=self._partial_in(files, log_rels)
            )
        return df if with_meta else df.drop(*META_COLS)

    def read_at_completion(self, end_ct: float) -> DataFrame:
        """Snapshot read at a COMPLETION-time cut: the state a completion-time
        cursor consumer observed at cursor value ``end_ct``. The begin-id twin
        is ``read(as_of=...)``; under non-blocking concurrency the two differ
        exactly when publish order diverges from begin order. Meta columns are
        dropped (same shape as ``read()``)."""
        files, _ = self.timeline.live_files(completed_by=end_ct)
        snap = self._snapshot_of(files, sorted(files)) if files else self._empty()
        return snap.drop(*META_COLS)

    def _snapshot_of(self, files: dict, rels: list[str]) -> DataFrame:
        """Merged snapshot view over a SUBSET of a snapshot's live files (the
        pruned-read primitive behind the CDC query). Callers must pass a
        subset that is closed over record keys of interest — i.e. every live
        file that might hold a wanted key (``_prune_files_by_keys`` guarantees
        this) — or the key-window merge could resolve against missing
        versions."""
        base_rels = sorted(r for r in rels if files[r][1] != "deltacommit")
        log_rels = sorted(r for r in rels if files[r][1] == "deltacommit")
        if self.config.table_type == "cow" or not log_rels:
            return self._read_files(base_rels, with_deleted=False)
        wp = self._partial_in(files, log_rels)
        base = self._read_files(base_rels, with_deleted=True, with_partial=wp)
        logs = self._read_files(log_rels, with_deleted=True, with_partial=wp)
        return self._merge_mor(base.unionByName(logs)).drop(META_DELETED)

    def read_point(self, **key_vals) -> DataFrame:
        """Bucket-index point lookup: prune to the key's ``__bucket=N`` file group
        before scanning (J5 — the whole point of ``hoodie.index.type=BUCKET``:
        O(table/n_buckets) IO for a key fetch instead of a full scan)."""
        if not self.config.record_key or not (self.config.n_buckets or self.config.bucket_ranges):
            df = self.read()
        else:
            # the bucket hash is recomputed driver-side (hashing.py mirrors
            # Spark's xxhash64 bit-for-bit, pinned by tests) — a point lookup
            # plans with ZERO Spark jobs before the pruned file read
            from hudi_examples_spark.table.hashing import spark_xxhash64

            try:
                h = spark_xxhash64(
                    [
                        (key_vals[k], self.schema[k].dataType.simpleString())
                        for k in self.config.record_key
                    ]
                )
            except TypeError:
                # key type the Python hasher doesn't cover (e.g. DECIMAL):
                # fall back to evaluating the hash JVM-side — one tiny job
                h = (
                    self.spark.range(1)
                    .select(
                        F.xxhash64(
                            *[
                                F.lit(key_vals[k]).cast(self.schema[k].dataType)
                                for k in self.config.record_key
                            ]
                        ).alias("h")
                    )
                    .collect()[0]["h"]
                )
            if self.config.bucket_ranges:
                import bisect

                bs = sorted(self.config.bucket_ranges)
                bucket = str(bs[bisect.bisect_right(bs, h % BUCKET_RING) - 1])
            else:
                bucket = str(h % self.config.n_buckets)
            files, _ = self.timeline.live_files()
            rels = [
                r
                for r in files
                if self._partition_of_relpath(r).get(BUCKET_COL, bucket) == bucket
            ]
            # merged subset view: tombstones and superseded versions within the
            # bucket resolve exactly like a full snapshot read would
            df = self._snapshot_of(files, sorted(rels)).drop(*META_COLS)
        for k, v in key_vals.items():
            df = df.filter(F.col(k) == v)
        return df

    def read_optimized(self, with_meta: bool = False) -> DataFrame:
        """MOR read-optimized view: base files only (pre-compaction state)."""
        files, _ = self.timeline.live_files()
        rels = [r for r, (_, a) in files.items() if a != "deltacommit"]
        df = self._read_files(rels, with_deleted=False)
        return df if with_meta else df.drop(*META_COLS)

    def table_changes(
        self, start: str = "earliest", end: str | None = None, mode: str = "latest_state"
    ) -> DataFrame:
        """M11: ``hudi_table_changes(tbl, 'latest_state', begin[, end])``.

        Returns the latest state (as of ``end``) of records whose last change falls in
        (start, end]; per-row ``_hoodie_commit_time`` is preserved across COW rewrites,
        so this is a metadata-only filter on the snapshot — no extra file reads.
        """
        if mode != "latest_state":
            raise ValueError("only latest_state incremental mode is supported")
        lo = "" if start == "earliest" else normalize_as_of(start)
        snap = self.read(as_of=end, with_meta=True)
        out = snap.filter(F.col(META_COMMIT) > lo)
        if end:
            out = out.filter(F.col(META_COMMIT) <= normalize_as_of(end))
        return out

    def table_changes_by_completion(
        self, start_ct: float = 0.0, end_ct: float | None = None
    ) -> DataFrame:
        """Completion-time incremental query — the Hudi 1.0 companion to
        :meth:`table_changes` that closes the TIMELINE HOLE a begin-id cursor
        has under non-blocking concurrency: if writer A mints instant t1,
        writer B mints t2 > t1 and publishes FIRST, a consumer that polled
        after B's publish advances its cursor to t2 and then skips A's commit
        forever (t1 < cursor even though it published later). Bounding the
        window by COMPLETION time instead makes the poll cursor = max
        ``committed_at`` seen — publish order IS cursor order, so nothing can
        land behind the cursor.

        Returns the latest state of records whose last change's instant
        COMPLETED in ``(start_ct, end_ct]`` (same latest_state semantics as
        ``table_changes``). The instant set is bounded timeline metadata;
        rows filter by an ``isin`` over it — still a metadata-only filter on
        the snapshot. Advance cursors with :meth:`latest_completion`.
        Single-host clocks make completion stamps totally ordered here; a
        multi-writer fleet needs the same monotonic-clock discipline Hudi's
        TrueTime-style completion times assume."""
        cb = self.timeline.completed_boundary()
        if start_ct < cb:
            # ADVICE r9 #2: archived instants folded into the checkpoint can
            # no longer serve an incremental window — a cursor behind the
            # archived completion boundary must fail loudly (like the begin-id
            # as_of guard), not silently drop the archived changes.
            raise ValueError(
                f"completion cursor {start_ct} predates the archived "
                f"completion boundary {cb} — archived changes cannot be replayed"
            )
        insts = self.timeline.completed_data_instants()
        window = [
            i.instant
            for i in insts
            if (i.committed_at or 0.0) > start_ct
            and (end_ct is None or (i.committed_at or 0.0) <= end_ct)
        ]
        # snapshot AT the end completion cut — not the latest snapshot — so a
        # commit publishing between the cursor capture and this read cannot
        # supersede the window's row versions out of the result
        files, _ = self.timeline.live_files(completed_by=end_ct)
        snap = self._snapshot_of(files, sorted(files)) if files else self._empty()
        if not window:
            return snap.limit(0)
        return snap.filter(F.col(META_COMMIT).isin(window))

    def latest_completion(self) -> float:
        """Max completion stamp over completed data instants — the cursor
        value a completion-time incremental consumer stores after a poll."""
        insts = self.timeline.completed_data_instants()
        return max((i.committed_at or 0.0) for i in insts) if insts else 0.0

    def table_changes_cdc(self, start: str, end: str | None = None) -> DataFrame:
        """CDC-format incremental query (Hudi ``hoodie.table.cdc.enabled``
        semantics on top of M11/M13): per changed key over (start, end], the
        change type and before/after row images.

        op = 'I' (absent at start, present at end), 'U' (present at both),
        'D' (present at start, gone by end). Intra-range churn nets out
        (insert+delete inside the range emits nothing) — snapshot-diff
        semantics, but priced at O(changes), not O(2×table): the touched-key
        set comes from the files the window's instants added/removed (the
        manifest knows both), and the before/after snapshot reads are pruned
        to the files whose record-key range can hold a touched key. A key
        untouched by the window never has its file opened. (A compaction
        inside the window inflates the touched set to its output — rows keep
        their original commit times, so the result is still exact.)
        """
        if not self.config.record_key:
            raise ValueError("CDC query requires a record key")
        lo = normalize_as_of(start)
        hi = normalize_as_of(end) if end else None
        files_end, _ = self.timeline.live_files(hi)
        files_lo, _ = self.timeline.live_files(lo)
        window_live = [r for r, (i, _a) in files_end.items() if i > lo]
        return self._cdc_from_cuts(
            files_lo, files_end, window_live, F.col(META_COMMIT) > lo
        )

    def table_changes_cdc_by_completion(
        self, start_ct: float = 0.0, end_ct: float | None = None
    ) -> DataFrame:
        """Completion-time CDC query — the change-feed twin of
        :meth:`table_changes_by_completion`, closing the same NBCC timeline
        hole for CDC consumers: the window is instants whose ``committed_at``
        falls in ``(start_ct, end_ct]``, so a commit that begins early but
        publishes late lands in a LATER window instead of behind an advanced
        begin-id cursor. Before/after cuts are completion-time snapshots
        (``live_files(completed_by=...)``) — the states a completion cursor
        consumer actually observed at each poll. Same I/U/D + before/after
        semantics and the same O(changes) file pruning as
        :meth:`table_changes_cdc`. Advance cursors with
        :meth:`latest_completion`."""
        if not self.config.record_key:
            raise ValueError("CDC query requires a record key")
        stamps = {
            i.instant: (i.committed_at or 0.0)
            for i in self.timeline.completed_data_instants()
        }
        files_end, _ = self.timeline.live_files(completed_by=end_ct)
        files_lo, _ = self.timeline.live_files(completed_by=start_ct)
        window_live = [
            r for r, (i, _a) in files_end.items() if stamps.get(i, 0.0) > start_ct
        ]
        win_insts = [
            i
            for i, s in stamps.items()
            if s > start_ct and (end_ct is None or s <= end_ct)
        ]
        return self._cdc_from_cuts(
            files_lo, files_end, window_live, F.col(META_COMMIT).isin(win_insts)
        )

    def _cdc_from_cuts(
        self,
        files_lo: dict,
        files_end: dict,
        window_live: list[str],
        changed_pred,
    ) -> DataFrame:
        """Shared CDC diff over two snapshot cuts (begin-id or completion-time
        bounded): ``files_lo``/``files_end`` are the live-file maps at the
        window edges, ``window_live`` the end-cut files added by the window,
        ``changed_pred`` the per-row predicate marking rows last written by a
        window instant."""
        removed_in_window = [r for r in files_lo if r not in files_end]
        touched_rels = sorted(set(window_live) | set(removed_in_window))
        row = F.struct(*self.data_cols)
        if not touched_rels:
            return self._empty().select(
                F.col(META_KEY).alias("key"),
                F.lit("I").alias("op"),
                row.alias("before"),
                row.alias("after"),
                F.col(META_COMMIT).alias("commit_time"),
            ).limit(0)
        small = len(files_lo) + len(files_end) <= self.CDC_PRUNE_MIN_FILES
        if not small and self.CDC_PRUNE_MIN_BYTES:
            total = 0
            for r in set(files_lo) | set(files_end):
                try:
                    total += os.path.getsize(os.path.join(self.base, r))
                except OSError:
                    total += self.CDC_PRUNE_MIN_BYTES  # unknown size: assume big
                if total > self.CDC_PRUNE_MIN_BYTES:
                    break
            small = total <= self.CDC_PRUNE_MIN_BYTES
        if small:
            # small table: two plain snapshot reads beat the pruning machinery's
            # fixed job overhead — the pruned path is for when "table" >> "changes".
            # Snapshots build from the CUT file maps so the same code serves
            # begin-id and completion-time windows.
            before_snap = self._snapshot_of(files_lo, sorted(files_lo))
            after_snap = self._snapshot_of(files_end, sorted(files_end))
        else:
            # materialize the touched key set ONCE (it feeds the prune collect
            # AND both semi-joins — without this the touched files are re-read
            # three times); size is O(changes), distributed, never driver-side
            touched = (
                self._read_files(touched_rels, with_deleted=True)
                .select(META_KEY)
                .distinct()
                .localCheckpoint(eager=True)
            )
            # one pruning pass over the union serves both sides (same key set)
            kept = set(self._prune_files_by_keys(sorted(set(files_lo) | set(files_end)), touched))
            before_rels = [r for r in sorted(files_lo) if r in kept]
            after_rels = [r for r in sorted(files_end) if r in kept]
            before_snap = self._snapshot_of(files_lo, before_rels).join(touched, META_KEY, "left_semi")
            after_snap = self._snapshot_of(files_end, after_rels).join(touched, META_KEY, "left_semi")
        b = before_snap.select(F.col(META_KEY).alias("key"), row.alias("before"))
        changed = after_snap.filter(changed_pred).select(
            F.col(META_KEY).alias("key"),
            row.alias("after"),
            F.col(META_COMMIT).alias("commit_time"),
        )
        alive = after_snap.select(F.col(META_KEY).alias("key"))
        upserted = changed.join(b, "key", "left_outer").select(
            "key",
            F.when(F.col("before").isNull(), F.lit("I")).otherwise(F.lit("U")).alias("op"),
            "before",
            "after",
            "commit_time",
        )
        deleted = b.join(alive, "key", "left_anti").select(
            "key",
            F.lit("D").alias("op"),
            "before",
            F.lit(None).cast(upserted.schema["after"].dataType).alias("after"),
            F.lit(None).cast("string").alias("commit_time"),
        )
        return upserted.unionByName(deleted)

    def latest_instant(self) -> str | None:
        insts = self.timeline.completed_data_instants()
        return insts[-1].instant if insts else None

    def count(self) -> int:
        return self.read().count()

    # ----------------------------------------------------------------- writes

    def insert(self, df: DataFrame, dedup: bool = False, extra_meta: dict | None = None) -> str:
        """M2/S7: INSERT INTO. Keyed tables with a precombine field resolve by
        key — Hudi's Spark-SQL default routes INSERT INTO a
        primaryKey+preCombineField table through the upsert merge
        (``spark_sql_testing.sh:81`` tables), so duplicate keys never surface
        in snapshots. Pk-less / no-precombine tables append. Use
        ``bulk_insert`` for the raw no-key-lookup load (Hudi 'bulk_insert')."""
        if self.config.record_key and self.config.precombine:
            return self._write_changes(upserts=df, deletes=None, op="insert", extra_meta=extra_meta)
        return self.bulk_insert(df, dedup=dedup, extra_meta=extra_meta)

    def bulk_insert(
        self,
        df: DataFrame,
        dedup: bool = False,
        sort_mode: str = "none",
        extra_meta: dict | None = None,
    ) -> str:
        """S7 bulk load: blind append, no key lookup (Hudi 'bulk_insert').

        ``sort_mode`` is Hudi's ``hoodie.bulkinsert.sort.mode``:

        - ``"none"`` (default): write the batch as it arrives — the fastest
          load, at the cost of per-file key ranges that span whatever the
          upstream partitioning mixed together.
        - ``"partition_sort"``: sort by (hive partition, key) WITHIN each
          Spark partition — clustered files with ZERO extra exchange; key
          ranges tighten for free when the upstream partitioning is already
          key-affine.
        - ``"global_sort"``: range-partition + sort on the record key — one
          ranged exchange of the batch buys DISJOINT per-file key ranges, so
          every subsequent keyed write prunes its location scan to the files
          that can actually hold its keys (the bulk-load analogue of
          ``cluster_sort``; at 100 TB this is the difference between a
          sorted initial load that stays prunable forever and one that needs
          a full clustering pass later). It writes
          ``max(defaultParallelism, 8)`` range-partitioned files — the same
          rule as ``cluster_sort`` — so the count never falls to one file on
          a small host: a single file's key range spans every key, and no
          keyed write could prune it."""
        if sort_mode not in ("none", "partition_sort", "global_sort"):
            raise ValueError(
                f"sort_mode must be none|partition_sort|global_sort, got {sort_mode!r}"
            )
        instant = new_instant()
        out = self._with_meta(self._conform(df), instant)
        if dedup and self.config.record_key:
            out = self._latest_wins(out)
        if sort_mode == "global_sort" and self.config.record_key:
            n = max(self.spark.sparkContext.defaultParallelism, 8)
            rels = self._write_files(out, instant, range_key_layout=n)
        elif sort_mode == "partition_sort" and self.config.record_key:
            sort_cols = [F.col(c) for c in self.config.partition_by] + [F.col(META_KEY)]
            rels = self._write_files(
                out.sortWithinPartitions(*sort_cols), instant, preserve_layout=True
            )
        else:
            rels = self._write_files(out, instant)
        self._maintain_indexes(rels)
        self._publish_with_index_guard(
            Instant(instant, "commit", rels, [], {"operation": "insert", **(extra_meta or {})})
        )
        return instant

    def insert_overwrite(self, df: DataFrame) -> str:
        """M8: replace the whole table content in one commit."""
        instant = new_instant()
        out = self._with_meta(self._conform(df), instant)
        files, latest = self.timeline.live_files()
        rels = self._write_files(out, instant)
        self._maintain_indexes(rels)
        self._publish_occ(
            Instant(instant, "replacecommit", rels, list(files.keys()), {"operation": "insert_overwrite"}),
            since=latest,
            partitions=None,  # full-table replace conflicts with any concurrent commit
        )
        return instant

    def upsert(self, df: DataFrame, extra_meta: dict | None = None) -> str:
        """M7: precombine-dedup + key-merge + touched-partition rewrite (COW) or
        log append (MOR). ``extra_meta`` rides in the commit's timeline
        metadata (streaming sinks stamp their (sink, batch_id) identity here
        atomically with the commit instead of rewriting the instant after —
        one timeline write per micro-batch, not two)."""
        return self._write_changes(upserts=df, deletes=None, op="upsert", extra_meta=extra_meta)

    def delete(self, keys_df: DataFrame) -> str:
        """M9: delete-by-key batch (``hoodie.datasource.write.operation=delete``)."""
        return self._write_changes(upserts=None, deletes=keys_df, op="delete")

    def delete_where(self, condition: str) -> str:
        """M4: DELETE FROM t WHERE ... — key set resolved by snapshot scan."""
        keys = self.read().filter(condition)
        return self._write_changes(upserts=None, deletes=keys, op="delete")

    def delete_partition(self, partition: dict | str) -> str:
        """Hudi's ``delete_partition`` write operation
        (``hoodie.datasource.write.operation=delete_partition`` /
        ``ALTER TABLE t DROP PARTITION``): ONE metadata-only replacecommit
        removes every live file of the partition. Zero data IO at any scale —
        planning walks the manifest, ``clean`` reclaims the bytes later, time
        travel before the commit still sees the partition, the CDC view
        derives the row deletes from the snapshot diff, and ``rollback``
        resurrects it (invalidating key/secondary indexes as usual). Accepts
        a ``{col: value}`` dict or the hive path string (``"seg=s0"``)."""
        if not self.config.partition_by:
            raise ValueError("delete_partition requires a partitioned table")
        if isinstance(partition, dict):
            missing = [c for c in self.config.partition_by if c not in partition]
            if missing:
                raise ValueError(f"partition spec missing columns: {missing}")
            unknown = [c for c in partition if c not in self.config.partition_by]
            if unknown:
                # a typo'd key would otherwise be silently ignored by the
                # path construction and drop a different partition-spec
                # intent than the caller wrote (advisor, round 5)
                raise ValueError(
                    f"partition spec has unknown columns {unknown}; "
                    f"table partitions by {self.config.partition_by}"
                )
            path = "/".join(
                f"{c}={partition[c]}" for c in self.config.partition_by
            )
        else:
            path = partition
        if self.config.table_type == "mor" and any(
            a == "deltacommit" for (_i, a) in self.timeline.live_files()[0].values()
        ):
            # Cross-partition move chains can live in logs: a key whose LATEST
            # version is a log row in THIS partition may still hold an older
            # base version elsewhere — dropping the log alone would re-expose
            # it. Compaction resolves every chain to one base row in the key's
            # CURRENT partition (O(pending logs), per file group), making
            # the drop logically exact; log-free MOR tables skip straight to
            # the metadata-only drop. (Hudi keeps this exact the other way,
            # with update.partition.path delete records at move time.)
            self.compact()
        files, latest = self.timeline.live_files()
        if any(a == "deltacommit" for (_i, a) in files.values()):
            # compaction publishes beside log appends, so a log that landed
            # while it ran (or a voided plan) leaves a chain the drop could cut
            raise ConcurrentWriteConflict(
                f"live log files remain after compacting for delete_partition {path!r}"
            )
        doomed = sorted(r for r in files if self._partition_of(r) == path)
        if not doomed:
            raise ValueError(f"no live files in partition {path!r}")
        instant = new_instant()
        self._publish_occ(
            Instant(
                instant,
                "replacecommit",
                [],
                doomed,
                {"operation": "delete_partition", "partition": path},
            ),
            since=latest,
            partitions={path},
        )
        return instant

    def update_where(self, condition: str, assignments: dict[str, object]) -> str:
        """M3: UPDATE t SET col=expr WHERE ... — rewrite of matching rows."""
        updated = self.read().filter(condition)
        for col, expr in assignments.items():
            updated = updated.withColumn(col, F.expr(expr) if isinstance(expr, str) else expr)
        return self._write_changes(upserts=updated.select(*self.data_cols), deletes=None, op="update")

    def merge(
        self,
        source: DataFrame,
        on: dict[str, str] | None = None,
        clauses: list[MergeClause] | None = None,
        aliases: tuple[str, str] = ("target", "source"),
    ) -> str:
        """M5/J1-J3: MERGE INTO target USING source ON target.k = source.k.

        ``on`` maps target key columns to source columns (default: the record
        key, same names). ``clauses`` (default ``UPDATE SET *`` then
        ``INSERT *``) have SQL semantics: a row is acted on by the first
        clause of its kind whose condition holds, and a row no clause takes
        stays as it is. Conditions and assignments name columns through
        ``aliases`` (target, source). Changed rows go through the upsert
        funnel, so the precombine field still orders the versions of a key.
        """
        if not self.config.record_key:
            # changed rows are upserted by key; a pk-less upsert appends
            raise ValueError("MERGE needs a table with a record key")
        on = on or {k: k for k in self.config.record_key}
        if clauses is None:
            clauses = [MergeClause("matched", "update"), MergeClause("not_matched", "insert")]
        cols = self.data_cols
        unknown = {c for cl in clauses for c in (cl.assignments or {})} - set(cols)
        if unknown:
            raise ValueError(f"MERGE assigns unknown columns {sorted(unknown)}")
        if (
            len(clauses) == 2
            and {(c.when, c.action) for c in clauses} == {("matched", "update"), ("not_matched", "insert")}
            and all(c.assignments is None and c.condition is None for c in clauses)
            and on == {k: k for k in self.config.record_key}
        ):
            # unconditional UPDATE SET * + INSERT * on the record key is an
            # upsert by definition: no target read, no join
            return self._write_changes(upserts=source.select(*cols), deletes=None, op="merge")

        ta, sa = aliases
        kinds = {c.when for c in clauses}
        how = {(False, False): "inner", (True, False): "left", (False, True): "right", (True, True): "full"}[
            ("not_matched_by_source" in kinds, "not_matched" in kinds)
        ]
        joined = self._merge_join(source, on, how, aliases)
        scope = {
            "matched": "__merge_t IS NOT NULL AND __merge_s IS NOT NULL",
            "not_matched": "__merge_t IS NULL",
            "not_matched_by_source": "__merge_s IS NULL",
        }
        pick = " ".join(
            f"WHEN {scope[c.when]}{f' AND ({c.condition})' if c.condition else ''} THEN {i}"
            for i, c in enumerate(clauses)
        )

        def value(c: MergeClause, col: str) -> str:
            if c.action == "delete":
                return f"{ta}.`{col}`"  # the deleted row's image
            if c.assignments is None:
                return f"{sa}.`{on.get(col, col)}`"  # SET * / INSERT *
            if col in c.assignments:
                return f"({c.assignments[col]})"
            # an update keeps what it does not assign; INSERT (cols) nulls it
            return f"{ta}.`{col}`" if c.action == "update" else "NULL"

        acted = (
            joined.withColumn("__merge_act", F.expr(f"CASE {pick} END"))
            .filter("__merge_act IS NOT NULL")
            .selectExpr(
                "__merge_act",
                *(
                    "CASE __merge_act "
                    + " ".join(f"WHEN {i} THEN {value(c, col)}" for i, c in enumerate(clauses))
                    + f" END AS `{col}`"
                    for col in cols
                ),
            )
        )
        return self._write_ops(
            acted,
            "__merge_act",
            [i for i, c in enumerate(clauses) if c.action != "delete"],
            [i for i, c in enumerate(clauses) if c.action == "delete"],
            op="merge",
            # the join is the engine's own, on the record key (one target row
            # per key: nothing for a skew split); the SOURCE decides whether
            # the batch is planned statically (``_checkpoint``)
            static=not _adaptive(source),
        )

    def _merge_join(
        self, source: DataFrame, on: dict[str, str], how: str, aliases: tuple[str, str]
    ) -> DataFrame:
        """The target ⋈ source join of a MERGE, flagged per side
        (``__merge_t`` / ``__merge_s``). The planner picks the strategy: an
        inner or left join may broadcast a small source. A right or full
        join preserves the source, so the source can never be the broadcast
        side; those joins sort-merge, which keeps a small target from
        becoming a broadcast job of its own when the join is planned
        statically."""
        ta, sa = aliases
        target = self.read()
        if how in ("right", "full"):
            target = target.hint("merge")
        return (
            target.withColumn("__merge_t", F.lit(True))
            .alias(ta)
            .join(
                source.withColumn("__merge_s", F.lit(True)).alias(sa),
                [F.col(f"{ta}.`{t}`") == F.col(f"{sa}.`{s}`") for t, s in on.items()],
                how,
            )
        )

    def write_cdc(self, df: DataFrame, op_col: str = "_op", extra_meta: dict | None = None) -> str:
        """M13: CDC batch with row kinds — ``_op ∈ {I,U,D}`` interpreted by one sink
        (parity: ``RowKind.DELETE`` through the same writer, ``HudiDataStreamWriter.java:170-182``).
        ``extra_meta`` rides in the commit's timeline metadata — the hook that
        lets a consumer persist its source offset atomically with the data it
        derived from that offset (exactly-once across restarts)."""
        return self._write_ops(df, op_col, ["I", "U", "+I", "+U"], ["D", "-D"], "cdc", extra_meta)

    # ------------------------------------------------------- unified write path

    def _write_ops(
        self,
        df: DataFrame,
        op_col: str,
        upsert_ops: list,
        delete_ops: list,
        op: str,
        extra_meta: dict | None = None,
        static: bool | None = None,
    ) -> str:
        """Write a batch whose ``op_col`` marks each row an upsert (a value in
        ``upsert_ops``) or a delete (``delete_ops``); other rows are dropped.

        A batch with both kinds is materialized ONCE before the split: both
        filtered branches re-evaluate the caller's plan otherwise (an IVM
        refresh feeds a multi-join union here, a MERGE its join), and
        _apply_cow then reads these blocks without checkpointing each
        branch again. ``static``: how the checkpoint is planned
        (``_checkpoint``)."""
        both = bool(upsert_ops and delete_ops)
        if both:
            df = _checkpoint(df, static)

        def rows(ops: list) -> DataFrame | None:
            return df.filter(F.col(op_col).isin(*ops)).drop(op_col) if ops else None

        try:
            return self._write_changes(
                upserts=rows(upsert_ops),
                deletes=rows(delete_ops),
                op=op,
                extra_meta=extra_meta,
                checkpointed=both,
                static=static,
            )
        finally:
            if both:
                # blocks are dead once the commit published — free now rather
                # than at some future driver GC (ADVICE r10)
                free_local_checkpoint(df)

    def _write_changes(
        self,
        upserts: DataFrame | None,
        deletes: DataFrame | None,
        op: str,
        extra_meta: dict | None = None,
        checkpointed: bool = False,
        static: bool | None = None,
    ) -> str:
        """``checkpointed``: the batches already read checkpoint blocks;
        ``static``: how ``_apply_cow`` plans their checkpoints otherwise."""
        if not self.config.record_key and upserts is not None and deletes is None:
            # pk-less tables degrade upsert to append (reference's pkless matrix rows
            # — ``spark_sql_testing.sh:87-93``); pk-less deletes fall through and are
            # resolved by full-row anti join in _apply_cow.
            return self.insert(upserts, extra_meta=extra_meta)
        # adopt any concurrent writer's schema evolution BEFORE planning the
        # rewrite: a stale handle that skipped this would rebuild touched
        # files through its old column list and erase the evolved column's
        # data (reads would return null) even though props still declares it
        self._merge_disk_schema()
        # single type-safety net for EVERY mutation path (upsert/update_where/
        # merge/write_cdc): a batch column at the wrong dtype must never reach
        # parquet — e.g. the SQL literal ``1.0`` is DECIMAL(2,1), and writing
        # it into a DOUBLE column makes the declared-schema read decode the
        # decimal's UNSCALED int (1.0 → 10.0): silent corruption, not an error.
        if upserts is not None:
            upserts = self._conform(upserts)
        if deletes is not None:
            casts = {
                c: F.col(c).cast(self.schema[c].dataType)
                for c in deletes.columns
                if c in self.schema.names
                and deletes.schema[c].dataType != self.schema[c].dataType
            }
            if casts:
                deletes = deletes.withColumns(casts)
        instant = new_instant()
        if self.config.table_type == "mor" and self.config.record_key:
            return self._apply_mor(instant, upserts, deletes, op, extra_meta)
        # COW, and pk-less MOR deletes (no key ⇒ tombstones can't address rows;
        # a full-row anti-join rewrite is the only correct form)
        return self._apply_cow(instant, upserts, deletes, op, extra_meta, checkpointed, static)

    def _batch_keys(self, *dfs: DataFrame) -> DataFrame | None:
        """Distinct ``_hoodie_record_key`` values across the incoming batches,
        or None when any batch can't yield keys (pk-less table, missing key
        columns) — callers then fall back to partition-scope planning."""
        if not self.config.record_key:
            return None
        keys = None
        for df in dfs:
            if df is None:
                continue
            if all(c in df.columns for c in self.config.record_key):
                k = df.selectExpr(f"{self._key_sql()} AS {_sql_ident(META_KEY)}")
            elif META_KEY in df.columns:
                k = df.select(META_KEY)
            else:
                return None
            keys = k if keys is None else keys.unionByName(k)
        # not distinct-ed: every consumer (range/bloom prune) tolerates
        # duplicates, and the exchange would cost more than the re-tests
        return keys

    def _partition_path_of(self, rel: str) -> str:
        """Hive partition path of a file (``seg=A`` / ``a=1/b=2``), ignoring
        ``__bucket`` routing dirs — driver-side string work, no jobs."""
        return "/".join(
            f"{k}={v}"
            for k, v in self._partition_of_relpath(rel).items()
            if k in self.config.partition_by
        )

    def _touched_partition_filter(self, *dfs: DataFrame):
        """Distinct partition paths of the incoming batches → predicate over live
        files. The only collect in the write path (bounded by partition count).

        Partition location is GLOBAL-index style by default (Hudi GLOBAL_SIMPLE
        with ``update.partition.path``): a keyed batch touches BOTH its own
        partition paths and the partitions its keys currently live in, found by
        joining keys against a column-pruned (key, partition) meta scan — so an
        upsert that changes a record's partition column moves the record instead
        of duplicating it, and delete-by-key works without partition columns.
        (MOR reads get the same guarantee from the key-window merge; this keeps
        COW snapshots identical.) The location scan is pruned by the per-file
        record-key ranges (``_prune_files_by_keys``) before any file opens, so
        its cost is O(files whose key range overlaps the batch), not O(table).
        ``index_type="partition"`` skips the location scan entirely and trusts
        the batch's own partition values (Hudi SIMPLE, non-global).
        """
        if not self.config.partition_by:
            return None  # unpartitioned: all files touched
        global_index = self.config.index_type == "global"
        paths = None
        for df in dfs:
            if df is None:
                continue
            ps = []
            if all(c in df.columns for c in self.config.partition_by):
                ps.append(df.selectExpr(f"{self._partition_sql()} AS p").distinct())
            elif not global_index:
                # partition-scoped index + a batch without partition columns
                # (delete-by-key): no way to locate — treat all as touched
                return None
            if (
                global_index
                and self.config.record_key
                and all(c in df.columns for c in self.config.record_key)
            ):
                files, _ = self.timeline.live_files()
                if files:
                    keys = df.selectExpr(f"{self._key_sql()} AS {_sql_ident(META_KEY)}").distinct()
                    if len(files) > self.KEY_PRUNE_MIN_FILES:
                        rels = self._prune_files_by_keys(sorted(files), keys)
                        via_rli = bool(
                            (getattr(self, "last_key_prune", None) or {}).get(
                                "record_index"
                            )
                        )
                    else:
                        rels = sorted(files)
                        via_rli = False
                    if rels and via_rli:
                        # record-index candidates are exact: every candidate
                        # file holds ≥1 batch key, so its partition IS a
                        # touched partition — derived from the file path,
                        # zero data reads
                        ps.append(
                            self.spark.createDataFrame(
                                [(self._partition_path_of(r),) for r in rels],
                                "p STRING",
                            ).distinct()
                        )
                    elif rels:
                        existing = self._read_files(rels, with_deleted=False).select(
                            META_KEY, META_PARTITION
                        )
                        ps.append(
                            existing.join(keys, META_KEY)
                            .select(F.col(META_PARTITION).alias("p"))
                            .distinct()
                        )
                    else:
                        # key ranges prove no live file holds any incoming key:
                        # the location result is known-empty without a scan
                        ps.append(
                            self.spark.createDataFrame([], "p STRING")
                        )
            if not ps:
                return None  # cannot locate: treat all partitions as touched
            for p in ps:
                # no cross-batch distinct: each ps is already distinct and the
                # driver-side set() below dedupes — saves one exchange per write
                paths = p if paths is None else paths.unionByName(p)
        if paths is None:
            return set()
        return {r["p"] for r in _static(paths, planning=True).collect()}

    #: max per-file key ranges shipped as a literal struct array in planning
    #: probes (beyond this the expression tree would bloat analysis/codegen —
    #: the broadcast-join form takes over, amortized against a genuinely
    #: large planning problem)
    RANGE_LITERAL_MAX = 256

    @staticmethod
    def _range_literal_array(ranged: list[tuple[str, str, str]]):
        """(rel, lo, hi) triples as a literal array<struct> expression — zero
        Spark jobs to 'build', unlike a broadcast relation. Built as ONE SQL
        string parsed JVM-side: the Column-API form paid ~4 py4j round-trips
        per file (array/struct/lit/alias), ~0.3 s of pure driver latency per
        write at 20 files — a measurable slice of every commit."""
        parts = ",".join(
            f"named_struct('rel',{_sql_str_lit(r)},"
            f"'lo',{_sql_str_lit(lo)},'hi',{_sql_str_lit(hi)})"
            for r, lo, hi in ranged
        )
        return F.expr(f"array({parts})")

    def _plan_keyed_write(
        self, rels: list[str], upserts: DataFrame | None, deletes: DataFrame | None
    ) -> tuple[set[str], list[str], int] | None:
        """ONE planning job for the common keyed-COW write (r10): the batch's
        distinct partition paths AND the key-range candidate files come back
        from a single collect — the old shape paid one Spark job for each,
        and both evaluated the same incoming-batch subtree. Returns
        (batch_parts, candidate_rels, batch_rows), or None when this planner
        cannot run (missing key/partition columns) — the caller then falls
        back to the split jobs; bloom-indexed and record-indexed tables keep
        their richer dedicated paths. ``batch_rows`` bounds the batch's row
        count from above (a key in k overlapping ranges counts k times); it
        sizes the rewrite's key exchange.

        Shape: (key, partition) rows LEFT-join the broadcast per-file
        key-range table — every batch partition survives the join (null
        ``rel``), every range-hit (partition, file) pair lands once, with
        its row count; the exchange carries only distinct pairs (partial
        aggregation runs upstream), so the collect is O(batch partitions +
        candidate files) at any scale. Pruning semantics are identical to
        ``_prune_files_by_keys``'s range phase: files without recorded
        ranges are always kept."""
        kps = []
        for d in (upserts, deletes):
            if d is None:
                continue
            if all(c in d.columns for c in self.config.record_key):
                key = self._key_sql()
            elif META_KEY in d.columns:
                key = _sql_ident(META_KEY)
            else:
                return None
            if not all(c in d.columns for c in self.config.partition_by):
                return None
            kps.append(
                d.selectExpr(f"CAST({key} AS STRING) AS __k", f"{self._partition_sql()} AS __p")
            )
        if not kps:
            return None
        kp = kps[0] if len(kps) == 1 else kps[0].union(kps[1])
        stats = self._load_file_stats()
        ranged, unknown = [], []
        for r in rels:
            kr = (stats.get(r) or {}).get(META_KEY)
            if kr is not None:
                ranged.append((r, str(kr[0]), str(kr[1])))
            else:
                unknown.append(r)
        if not ranged:
            probe = kp.selectExpr("__p", "CAST(NULL AS STRING) AS rel")
        elif len(ranged) <= self.RANGE_LITERAL_MAX:
            # bounded range count (r10): the per-file ranges ride as a
            # LITERAL struct array probed by a higher-order filter — the
            # broadcast-join form paid a whole extra Spark job just to build
            # its tiny broadcast (createDataFrame parallelizes the local list
            # over defaultParallelism slices). explode_outer keeps no-match
            # rows exactly like the left join did.
            probe = kp.select(
                "__p",
                F.explode_outer(
                    F.filter(
                        self._range_literal_array(ranged),
                        lambda s: (F.col("__k") >= s["lo"]) & (F.col("__k") <= s["hi"]),
                    )
                ).alias("__s"),
            ).selectExpr("__p", "__s.rel AS rel")
        else:
            rng = self.spark.createDataFrame(ranged, "rel STRING, lo STRING, hi STRING")
            probe = kp.join(
                F.broadcast(rng),
                (F.col("__k") >= F.col("lo")) & (F.col("__k") <= F.col("hi")),
                "left",
            ).select("__p", "rel")
        rows = _static(probe.groupBy("__p", "rel").count(), planning=True).collect()
        parts = {r["__p"] for r in rows}
        if ranged:
            kept = sorted({r["rel"] for r in rows if r["rel"] is not None} | set(unknown))
        else:
            kept = list(rels)
        self.last_key_prune = {"total": len(rels), "candidates": len(kept)}
        return parts, kept, sum(r["count"] for r in rows)

    def _apply_cow(
        self,
        instant: str,
        upserts: DataFrame | None,
        deletes: DataFrame | None,
        op: str,
        extra_meta: dict | None = None,
        checkpointed: bool = False,
        static: bool | None = None,
    ) -> str:
        files, _latest = self.timeline.live_files()
        _batch_ckpts: list[DataFrame] = []
        if files and (upserts is not None or deletes is not None) and not checkpointed:
            # Materialize the incoming batch ONCE (r10, guide §1.2/§2.4): a
            # keyed COW write evaluates the batch subtree in up to four
            # separate jobs (batch-partition collect, key-range prune,
            # outside-partition confirmation, the merge+rewrite itself), and
            # each re-ran the caller's full source plan — scans, filters,
            # unions — from scratch. One localCheckpoint pins the batch's
            # O(micro-batch) rows to executor blocks so every planning job
            # reads those instead (Hudi itself persists the incoming
            # workload profile for the same reason). Lazy (eager=False): the
            # FIRST planning job materializes the blocks as a side effect —
            # an eager checkpoint would add a dedicated job per batch, which
            # r10 measured as a net LOSS on many-commit small-batch
            # lifecycles (CDC fixtures). Empty-table inserts never reach
            # this branch, so the initial-load path pays nothing.
            if upserts is not None:
                upserts = _checkpoint(upserts, static)
                _batch_ckpts.append(upserts)
            if deletes is not None:
                deletes = _checkpoint(deletes, static)
                _batch_ckpts.append(deletes)
        keys_df = self._batch_keys(upserts, deletes)
        if files and keys_df is not None:
            # Key-first planning (Hudi COW upsert granularity): ONE range/bloom
            # prune finds the file groups that may HOLD an incoming or deleted
            # key — they are exactly the rewrite set. Pure inserts land in new
            # files; every other file group stays live untouched. This replaces
            # the partition-location SCAN (which had to open candidate files to
            # find key partitions) with pure planning metadata: the difference
            # between rewriting a 1 TB partition and rewriting the 3 files a
            # 1000-row upsert actually hits. Pruning is lossless (files without
            # stats are always kept), so the merge still sees every version of
            # every incoming key — including rows MOVING partitions under the
            # global index (their old-partition file is in the candidate set).
            combined = None
            if (
                self.config.partition_by
                and self.config.index_type != "partition"
                and not self.config.bloom_index
                and len(files) > 1
                and not self._record_index_ready()
            ):
                # common path: partition collect + range prune as ONE job
                combined = self._plan_keyed_write(sorted(files), upserts, deletes)
            rli_defer = False
            if combined is not None:
                batch_parts, touched_rels, batch_rows = combined
                via_rli = False
            else:
                batch_parts = batch_rows = None
                dfs = [d for d in (upserts, deletes) if d is not None]
                can_parts = bool(self.config.partition_by) and all(
                    all(c in d.columns for c in self.config.partition_by)
                    for d in dfs
                )

                def _collect_batch_parts() -> set:
                    ps = [d.selectExpr(f"{self._partition_sql()} AS p") for d in dfs]
                    p = ps[0] if len(ps) == 1 else ps[0].union(ps[1])
                    return {r["p"] for r in _static(p.distinct(), planning=True).collect()}

                # Defer the batch-partition collect on RLI plans (r10): the
                # record index resolves candidates EXACTLY, so the only
                # remaining consumer of batch_parts is the OCC footprint —
                # and that is derivable from the files actually written
                # (every surviving batch row lands in a written file; a
                # batch partition whose rows ALL lose the precombine merge
                # changes nothing there, and its keys' holder files are in
                # touched_rels, so key conflicts are still caught). Early
                # conflict detection still collects up front: its marker
                # must declare the footprint BEFORE the merge runs.
                rli_defer = (
                    can_parts
                    and self.config.index_type != "partition"
                    and not self.config.early_conflict_detection
                    and self._record_index_ready()
                )
                if can_parts and not rli_defer:
                    batch_parts = _collect_batch_parts()
                if self.config.index_type == "partition" and batch_parts is not None:
                    # non-global index: trust the batch's own partition values
                    # and never look elsewhere (Hudi SIMPLE contract — a
                    # partition-changing upsert leaves the old row in place)
                    scope = [
                        r for r in files if self._partition_path_of(r) in batch_parts
                    ]
                else:
                    scope = sorted(files)
                if len(scope) > 1:
                    touched_rels = self._prune_files_by_keys(sorted(scope), keys_df)
                    via_rli = bool(
                        (getattr(self, "last_key_prune", None) or {}).get(
                            "record_index"
                        )
                    )
                else:
                    touched_rels = list(scope)
                    via_rli = False
                if rli_defer and not via_rli:
                    # rare fallback (index invalidated between the readiness
                    # check and the probe): the confirmation read below and
                    # the up-front footprint DO need the batch partitions
                    batch_parts = _collect_batch_parts()
                    rli_defer = False
            if batch_parts is not None and not via_rli:
                # (Record-index candidates are exact — an outside file IS a
                # real holder of a moving key; the confirmation read below
                # would only re-prove it, so RLI plans skip it entirely.)
                # Range/bloom candidates OUTSIDE the batch's own partitions are
                # usually lexicographic false positives of the string key range
                # (a numeric key "5" overlaps ranges in every partition), and a
                # needless rewrite both costs IO and marks a clustered
                # partition dirty. Verify them with a key-column-pruned read —
                # a moved row's real holder file survives, FP files drop.
                outside = [
                    r
                    for r in touched_rels
                    if self._partition_path_of(r) not in batch_parts
                ]
                if outside:
                    probe = (
                        self._read_files(outside, with_deleted=False)
                        .select(META_KEY, F.input_file_name().alias("__f"))
                        .join(keys_df, META_KEY, "leftsemi")
                        .select("__f")
                        .distinct()
                    )
                    hits = _static(probe, planning=True).collect()
                    confirmed = {
                        r for r in outside for h in hits if h["__f"].endswith(r)
                    }
                    touched_rels = [
                        r
                        for r in touched_rels
                        if r not in set(outside) or r in confirmed
                    ]
            if self.config.partition_by:
                # OCC footprint: the batch's own partitions plus the partitions
                # of every candidate file (a superset of the partitions that
                # hold the keys — derived from file paths, zero extra jobs).
                # Deferred RLI plans add the batch side AFTER the write, from
                # the written files' paths — still zero extra jobs.
                touched = (batch_parts or set()) | {
                    self._partition_path_of(r) for r in touched_rels
                }
            else:
                touched = None  # unpartitioned: conservative full-table footprint
        else:
            rli_defer = False
            batch_rows = None
            # pk-less batches (or no derivable keys): partition-scope via the
            # legacy location filter, full rewrite within touched partitions
            touched = self._touched_partition_filter(upserts, deletes) if files else None
            if touched is None:
                touched_rels = list(files.keys())
            else:
                touched_rels = [
                    r for r in files if self._partition_path_of(r) in touched
                ]
        marker_hb = None
        if self.config.early_conflict_detection:
            # marker out our planned footprint, then fail fast on an
            # in-flight overlap — BEFORE the merge/rewrite job below runs;
            # the heartbeat keeps the marker live however long the merge takes
            self._write_conflict_marker(instant, touched_rels, touched)
            self._early_conflict_check(instant, touched_rels, touched)
            marker_hb = self._marker_heartbeat(instant)
        try:
            existing = self._read_files(touched_rels, with_deleted=False)
            # the merge's width is sized from planning facts where the one-job
            # planner ran; otherwise its exchange keeps the session width
            key_width = (
                None
                if batch_rows is None
                else self._key_exchange_width(touched_rels, batch_rows, existing)
            )
            if self.config.record_key:
                merged = self._merge_cow(existing, upserts, deletes, instant, key_width)
            else:
                # pk-less table: delete by full-row match
                merged = existing
                if deletes is not None:
                    merged = merged.join(
                        deletes.select(*self.data_cols), self.data_cols, "left_anti"
                    )
                if upserts is not None:
                    merged = merged.unionByName(self._with_meta(upserts, instant))
            rels = self._write_files(
                merged,
                instant,
                single_task=key_width == 1,
                dirs=None if key_width is None else max(len(touched), 1),
            )
            if rli_defer and touched is not None:
                # deferred footprint completion: the batch's partitions are
                # exactly the written files' partitions (plus the candidate
                # partitions already in `touched`)
                touched = touched | {self._partition_path_of(r) for r in rels}
            self._maintain_indexes(rels)
            self._publish_occ(
                Instant(instant, "commit", rels, touched_rels, {"operation": op, **(extra_meta or {})}),
                since=_latest,
                partitions=touched,
            )
            return instant
        finally:
            if marker_hb is not None:
                marker_hb.set()
            if self.config.early_conflict_detection:
                shutil.rmtree(self._marker_dir(instant), ignore_errors=True)
            # the batch's checkpoint blocks are dead once the commit published
            # (or the write aborted) — free them now instead of waiting for
            # driver GC + ContextCleaner; a many-commit writer otherwise
            # accumulates block-manager entries for every batch (ADVICE r10)
            for _d in _batch_ckpts:
                free_local_checkpoint(_d)

    def _key_exchange_width(self, rels: list[str], batch_rows: int, existing: DataFrame) -> int:
        """Width of a keyed rewrite's key exchange, decided on the driver in
        place of AQE's runtime coalescing: the larger of two counts Spark
        makes itself, capped at the caller's ``spark.sql.shuffle.partitions``.

        - Reducers: estimated shuffle data over the caller's
          ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, AQE's unit. The
          exchange carries every row of the candidate files (footer row
          counts) and of the batch (planning's bound, which counts a batch
          row once per candidate file whose key range holds it), each costed
          the way Spark's optimizer costs a row of known count and unknown
          size: 8 bytes plus the schema's default column sizes.
        - Scan splits: the candidate files packed as Spark packs a file scan,
          bytes plus ``spark.sql.files.openCostInBytes`` per file, over
          ``spark.sql.files.maxPartitionBytes``.

        Width 1 is one task that scans, merges and writes (``_merge_cow``);
        Spark would still spread such a scan over idle cores, which saved
        nothing measurable: a 150k-row, 3.2 MB candidate set merged in
        0.72 s scanning in one task and 0.74 s ahead of one reducer (4
        cores)."""
        rows, scan = batch_rows, 0
        for r in rels:
            path = os.path.join(self.base, r)
            st = os.stat(path)
            scan += st.st_size
            rows += _file_rows(path, st)
        row_bytes = 8 + existing._jdf.schema().defaultSize()
        conf = self.spark.conf
        size_of = _byte_string(existing._jdf._gateway_client)
        reducers = rows * row_bytes / size_of(
            conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        open_cost = size_of(conf.get("spark.sql.files.openCostInBytes"))
        splits = (scan + len(rels) * open_cost) / size_of(
            conf.get("spark.sql.files.maxPartitionBytes")
        )
        n = math.ceil(max(reducers, splits, 1))
        n = min(n, int(conf.get("spark.sql.shuffle.partitions")))
        self.last_key_exchange = {"rows": rows, "bytes": rows * row_bytes, "width": n}
        return n

    def _merge_cow(
        self,
        existing: DataFrame,
        upserts: DataFrame | None,
        deletes: DataFrame | None,
        instant: str,
        key_width: int | None,
    ) -> DataFrame:
        """A keyed COW commit's merge in ONE key-window pass. The rewritten
        file groups' stored rows (tag 0), the batch's upserts (tag 1) and one
        tombstone per delete row (tag 2) union; a window drops the stored
        rows of every key with a tombstone and the tombstones themselves, and
        ``_latest_wins`` resolves what is left. A delete thus removes the
        stored versions of its key, and a same-batch upsert of that key
        survives whatever its precombine — the semantics of an anti join of
        the stored rows against the delete keys, without a join in the plan.
        ``key_width`` sizes the key exchange (None: the window's own exchange
        at the session's shuffle width). At 1 there is no exchange: the
        union coalesces to ONE task, which merges and then writes the whole
        commit (``_write_files(single_task=True)``) — two shuffle stages
        fewer for a commit small enough that the key exchange would have
        had a single reducer anyway."""
        tagged = [existing.selectExpr("*", "0 AS __tag")]
        if upserts is not None:
            tagged.append(self._with_meta(upserts, instant).selectExpr("*", "1 AS __tag"))
        if deletes is not None:
            key = _sql_ident(META_KEY) if META_KEY in deletes.columns else self._key_sql()
            tagged.append(
                deletes.selectExpr(
                    *(f"NULL AS {_sql_ident(c)}" for c in (META_COMMIT, META_PARTITION)),
                    f"{key} AS {_sql_ident(META_KEY)}",
                    *(f"NULL AS {_sql_ident(c)}" for c in self.data_cols),
                    "2 AS __tag",
                )
            )
        merged = tagged[0]
        for t in tagged[1:]:
            merged = merged.unionByName(t)
        if key_width == 1:
            merged = merged.coalesce(1)
        elif key_width:
            merged = merged.repartition(key_width, META_KEY)
        if deletes is not None:
            merged = merged.selectExpr(
                "*", f"max(__tag) OVER (PARTITION BY {_sql_ident(META_KEY)}) AS __del"
            ).filter("__tag = 1 OR __del < 2")
        if upserts is not None:
            merged = self._latest_wins(merged)
        return merged.drop("__tag", "__del")

    def _apply_mor(
        self,
        instant: str,
        upserts: DataFrame | None,
        deletes: DataFrame | None,
        op: str,
        extra_meta: dict | None = None,
    ) -> str:
        """MOR: write-cheap log files; merge deferred to read/compaction (M14 prep).

        First write into an empty table is a base-file commit instead (Hudi
        routes initial loads to base parquet; logs only carry updates/deletes):
        the read-optimized view then shows the load, and because every later
        write IS a log, snapshot reads always merge — no duplicate key can
        surface even via repeated keyed inserts (intra-batch duplicates of the
        initial load are resolved here, since no logs exist yet to merge them).
        """
        live, _ = self.timeline.live_files()
        meta = {"operation": op, **(extra_meta or {})}
        if not live and upserts is not None and deletes is None:
            out = self._latest_wins(self._with_meta(upserts, instant))
            rels = self._write_files(out, instant)
            self._maintain_indexes(rels)
            self._publish_with_index_guard(Instant(instant, "commit", rels, [], meta))
            return instant
        parts = []
        if upserts is not None:
            parts.append(self._with_meta(upserts, instant).withColumn(META_DELETED, F.lit(False)))
        if deletes is not None:
            tomb = deletes.select(*[c for c in self.data_cols if c in deletes.columns])
            for c in self.data_cols:
                if c not in tomb.columns:
                    tomb = tomb.withColumn(c, F.lit(None).cast(self.schema[c].dataType))
            parts.append(self._with_meta(tomb.select(*self.data_cols), instant).withColumn(META_DELETED, F.lit(True)))
        if not parts:
            return instant
        out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        rels = self._write_files(out, instant)
        self._maintain_indexes(rels)
        self._publish_with_index_guard(Instant(instant, "deltacommit", rels, [], meta))
        return instant

    # ----------------------------------------------------- concurrency control

    def _partition_of(self, rel: str) -> str:
        return "/".join(
            f"{k}={v}"
            for k, v in self._partition_of_relpath(rel).items()
            if k in self.config.partition_by
        )

    #: stale-lock expiry — a publish holds the lock for milliseconds (conflict
    #: scan + one rename), so anything older than this is a dead holder
    LOCK_TTL_SECONDS = 60.0

    MARKERS_DIR = ".markers"
    #: markers outlive the lock TTL by design: the expensive-long-merge case
    #: is exactly what early conflict detection exists for, so expiring a
    #: marker at LOCK_TTL (60s) silently disarmed it for any merge running
    #: longer than a minute (advisor, round 5). A live writer HEARTBEATS its
    #: marker every LOCK_TTL/2 for the merge's duration, so this expiry only
    #: ever reaps writers that are ~8 missed beats dead.
    MARKER_TTL_SECONDS = 240.0

    def _marker_dir(self, instant: str) -> str:
        return os.path.join(self.base, self.MARKERS_DIR, instant)

    def _marker_heartbeat(self, instant: str):
        """Keep an in-flight marker's mtime fresh while the merge job runs.

        Returns a stop Event; the caller sets it in ``finally``. The beat is
        a single ``os.utime`` on the plan file — O(1) metadata, no data IO —
        so a merge of any duration retains its fail-fast protection. If the
        marker vanished (we aborted, or a same-instant race swept it) the
        thread just exits: there is nothing left to keep alive."""
        import threading

        stop = threading.Event()
        path = os.path.join(self._marker_dir(instant), "plan.json")
        interval = max(1.0, self.LOCK_TTL_SECONDS / 2)

        def beat():
            while not stop.wait(interval):
                try:
                    os.utime(path, None)
                except OSError:
                    return

        threading.Thread(target=beat, daemon=True, name=f"marker-hb-{instant}").start()
        return stop

    def _write_conflict_marker(
        self, instant: str, rels: list[str], partitions: set | None
    ) -> None:
        """Publish this write's planned footprint as a marker (the in-flight
        analogue of Hudi's marker files under ``.hoodie/.temp/<instant>``).
        One JSON per writer — O(1) files, not per-data-file markers, because
        the conflict unit here matches publish OCC (partitions, plus exact
        rels for the rewrite set).

        Same-millisecond instant ids from DIFFERENT processes are a real
        cross-process event (publish OCC rejects them too): the tmp name is
        per-PID so concurrent writers never collide on it, and any OSError
        from a same-instant writer sweeping the shared dir mid-write maps to
        ``ConcurrentWriteConflict`` — the caller re-mints and retries, the
        exact semantics a publish-time id collision has."""
        d = self._marker_dir(instant)
        try:
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".plan.{os.getpid()}.json.tmp")
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "rels": sorted(rels),
                        "partitions": sorted(partitions) if partitions is not None else None,
                    },
                    f,
                )
            os.replace(tmp, os.path.join(d, "plan.json"))
        except OSError as e:
            raise ConcurrentWriteConflict(
                f"marker write for {instant} raced a same-instant writer: {e}"
            ) from e

    def _early_conflict_check(
        self, instant: str, rels: list[str], partitions: set | None
    ) -> None:
        """Fail fast if an IN-FLIGHT writer's marker overlaps our footprint —
        Hudi's early conflict detection (SimpleDirectMarkerBasedDetection
        shape): the expensive merge/rewrite job hasn't run yet, so aborting
        here costs planning only. Semantics mirror publish OCC: partition
        overlap conflicts (file overlap implies it), and an unpartitioned
        footprint (``partitions is None`` on either side) conflicts with any
        concurrent writer. Deterministic tie-break — the LOWER instant
        proceeds, the later-minted writer aborts — so two racing writers
        never both give up. Best-effort: a marker published after our scan
        is caught at publish OCC, never missed entirely."""
        root = os.path.join(self.base, self.MARKERS_DIR)
        if not os.path.isdir(root):
            return
        completed = {i.instant for i in self.timeline.instants()}
        now = _time.time()
        for other in sorted(os.listdir(root)):
            if other >= instant or other in completed:
                # >= ours: the later writer does the aborting, not us;
                # completed: its footprint is publish-OCC's business now
                continue
            p = os.path.join(root, other, "plan.json")
            try:
                if (now - os.path.getmtime(p)) > self.MARKER_TTL_SECONDS:
                    continue  # dead writer's leftover (heartbeat long gone); heal sweeps it
                with open(p) as f:
                    plan = json.load(f)
            except (OSError, ValueError):
                continue  # mid-write or swept marker: not evidence
            their_parts = plan.get("partitions")
            if partitions is None or their_parts is None:
                overlap: set | bool = True  # a full-table rewrite on either side
            else:
                overlap = (set(their_parts) & partitions) or (
                    set(plan.get("rels", [])) & set(rels)
                )
            if overlap:
                shutil.rmtree(self._marker_dir(instant), ignore_errors=True)
                raise ConcurrentWriteConflict(
                    f"early conflict detection: in-flight writer {other} "
                    f"already claims footprint overlapping {instant}"
                )

    def _publish_occ(
        self,
        inst: Instant,
        since: str,
        partitions: set | None,
        occ_scope: str = "partition",
        precondition=None,
    ) -> None:
        """Optimistic concurrency control (Hudi OCC + lock-provider shape):
        under a filesystem lock, reject the publish if any instant committed
        after our snapshot rewrote files or partitions this commit also
        touches, then atomically publish. MOR log appends and bulk inserts
        skip this — append-only commits can't lose concurrent writes (their
        key versions merge at read). Callers catch ConcurrentWriteConflict
        and retry the whole operation from a fresh snapshot.

        ``occ_scope="files"`` narrows conflict detection to file overlap only
        (skip the partition-level check): used by compaction and by every
        base-only clustering copy, scheduled or inline — their output keeps
        each row's commit instant, so it stays correct under concurrent
        APPENDS by commit-time ordering and only a concurrent remover of
        their input files conflicts.
        """
        if inst.files_added:
            # record-index maintenance rides EVERY file-adding publish
            # (including replace commits — compaction/clustering move keys to
            # new files, which (value→key) indexes never notice but a
            # (key→file) index must). A publish that then loses the OCC race
            # leaves superset entries only.
            self._maintain_indexes(inst.files_added, record=True)
        lock = os.path.join(self.base, TIMELINE_DIR, "_lock")
        os.makedirs(os.path.dirname(lock), exist_ok=True)
        # crash recovery (Hudi FileSystemBasedLockProvider expiry): locks past
        # their TTL are broken (rename-won) so a dead holder can't block
        # publishes forever
        fd = _acquire_lock(lock, self.LOCK_TTL_SECONDS, 30.0)
        try:
            if precondition is not None:
                # caller-supplied validity re-check, evaluated UNDER the lock
                # against the now-settled timeline (async compaction re-checks
                # its late-publisher condition here, closing the window
                # between plan validation and publish)
                precondition()
            ours_removed = set(inst.files_removed)
            for other in self.timeline.completed_data_instants():
                if other.instant == inst.instant:
                    # a same-millisecond instant from another process: publishing
                    # would os.replace its commit file — reject, caller re-mints
                    raise ConcurrentWriteConflict(
                        f"instant id {inst.instant} already published by a concurrent writer"
                    )
                # removal overlap is checked against EVERY completed instant,
                # not just ids after our snapshot: a late-publishing remover
                # (minted before our snapshot, published after it) carries an
                # old id and would slip past the id-ordered skip below — but
                # two publishes removing the same file is always a lost
                # update (both sides' replacement rows go live). Relpaths are
                # never reused and rolled-back instants are excluded, so on
                # correct histories this never fires for ancient instants.
                if ours_removed & set(other.files_removed):
                    raise ConcurrentWriteConflict(
                        f"instant {other.instant} already rewrote files this commit removes"
                    )
                if other.instant <= (since or ""):
                    continue
                their_files = set(other.files_removed) | set(other.files_added)
                if occ_scope == "files":
                    continue  # appends are no conflict for async compaction
                if partitions is None:
                    raise ConcurrentWriteConflict(
                        f"full-table rewrite conflicts with concurrent instant {other.instant}"
                    )
                their_parts = {self._partition_of(r) for r in their_files}
                if partitions & their_parts:
                    raise ConcurrentWriteConflict(
                        f"instant {other.instant} touched partitions {partitions & their_parts}"
                    )
            # Displacement re-check, closing the residual three-way stale-break
            # race (_break_stale_lock docstring): if a breaker misjudged THIS
            # lock as stale and renamed it away (whether or not a new holder
            # re-created the path), our inode no longer matches — abort
            # instead of publishing alongside the new holder.
            try:
                displaced = os.fstat(fd).st_ino != os.stat(lock).st_ino
            except OSError:
                displaced = True
            if displaced:
                raise ConcurrentWriteConflict(
                    "lock displaced by a stale-lock breaker during publish; retry"
                )
            self.timeline.write(inst)
            self._index_publish_guard()
        finally:
            _release_lock(fd, lock)

    # ------------------------------------------------------------- services

    def _compaction_plan(self, max_io_bytes: int | None = None) -> Instant | None:
        """Plan one compaction against the CURRENT snapshot, unwritten: which
        live log files to resolve and which base files they pull into the
        merge.

        Per file group (Hudi compacts per file group, never per table —
        ``DeltaStreamerExample.scala:48-55``, ``flink/.README.md:57-69``): only
        file groups (hive-partition [+ ``__bucket``] dirs) holding live log
        files are merged and rewritten; every untouched base file is carried
        forward by manifest reference, so a 100 TB table with 1% hot
        partitions compacts ~1% of its bytes. Because the key index is global
        (a log row may supersede a base row in ANOTHER partition after a
        partition-changing upsert), base files outside the log dirs whose
        record-key range overlaps the log keys are pulled into the merge too;
        without key-range stats that check conservatively degrades to a full
        compaction. ``known_instants`` snapshots the completed timeline so an
        executor can detect late-publishing writers minted before the plan."""
        files, _ = self.timeline.live_files()
        log_rels = sorted(r for r, (_, a) in files.items() if a == "deltacommit")
        if not log_rels:
            return None
        if max_io_bytes is not None:
            # Hudi's LogFileSizeBased + BoundedIO compaction strategies
            # (hoodie.compaction.strategy / target.io): rank file groups by
            # live LOG bytes descending — the groups where compaction buys
            # the most read amplification back — and keep groups while the
            # running (log + in-group base) byte total fits the budget;
            # always at least one group. Sizing is one os.stat per file —
            # metadata-only planning. The plan stays partition-exact: the
            # moved-base pull-in below keys off the KEPT logs only, and
            # uncompacted groups simply stay live for the next schedule.
            group_logs: dict[str, list[str]] = {}
            for r in log_rels:
                group_logs.setdefault(os.path.dirname(r), []).append(r)

            def _sz(rel: str) -> int:
                try:
                    return os.path.getsize(os.path.join(self.base, rel))
                except OSError:
                    return 0

            base_by_dir: dict[str, int] = {}
            for r, (_, a) in files.items():
                if a != "deltacommit":
                    d = os.path.dirname(r)
                    base_by_dir[d] = base_by_dir.get(d, 0) + _sz(r)
            ranked = sorted(
                group_logs, key=lambda d: sum(_sz(r) for r in group_logs[d]), reverse=True
            )
            kept, total = [], 0
            for d in ranked:
                cost = sum(_sz(r) for r in group_logs[d]) + base_by_dir.get(d, 0)
                if kept and total + cost > max_io_bytes:
                    continue
                kept.append(d)
                total += cost
            log_rels = sorted(r for d in kept for r in group_logs[d])
        log_dirs = {os.path.dirname(r) for r in log_rels}
        base_rels = sorted(r for r, (_, a) in files.items() if a != "deltacommit")
        in_dirs = [r for r in base_rels if os.path.dirname(r) in log_dirs]
        outside = [r for r in base_rels if os.path.dirname(r) not in log_dirs]
        moved: list[str] = []
        if outside:
            logs_keys = self._read_files(log_rels, with_deleted=True).select(META_KEY)
            moved = self._prune_files_by_keys(outside, logs_keys)
        known = sorted(i.instant for i in self.timeline.completed_data_instants())
        return Instant(
            new_instant(),
            "compactionplan",
            [],
            [],
            {
                "operation": "compaction_schedule",
                "log_rels": log_rels,
                "merge_base": sorted(set(in_dirs) | set(moved)),
                "known_instants": known,
            },
        )

    def _execute_compaction(self, plan: Instant) -> str | None:
        """Execute one compaction plan, scheduled (:meth:`run_compaction`) or
        inline (:meth:`compact`): merge exactly the plan's files into fresh
        base files (one replacecommit). Merged rows KEEP their original
        ``_hoodie_commit`` (``_with_meta`` preserves an existing meta column),
        so log files appended AFTER the plan was cut still supersede the
        compacted base at read time — the property that makes compaction
        non-blocking for writers.

        Validation before the merge, because the table may have moved on
        since the plan was cut (a voided plan returns None):

        - every planned file must still be live — a clustering pass,
          ``delete_partition``, rollback, or competing compactor that replaced
          any of them voids the plan;
        - no completed data instant minted BEFORE the plan may have published
          AFTER it (``known_instants`` delta): such a late writer's log rows
          can predate a tombstone epoch inside the plan, and compacting the
          tombstone away would resurrect them.

        The publish uses file-scoped OCC (``occ_scope="files"``): log files
        appended after the plan — the normal state of affairs under live
        writers — are no conflict; only a concurrent REMOVER of planned files
        aborts. The late-publisher check is re-run under the publish lock,
        closing the window between validation and publish."""
        log_rels, merge_base = plan.meta["log_rels"], plan.meta["merge_base"]
        touched = sorted(set(merge_base) | set(log_rels))
        files, latest = self.timeline.live_files()
        if self._late_publishers(plan) or not set(touched) <= set(files):
            return None

        def _still_valid():
            if self._late_publishers(plan):
                raise ConcurrentWriteConflict(
                    "late-publishing writer landed during plan execution"
                )

        instant = new_instant()
        wp = self._partial_in(files, log_rels)
        base = self._read_files(merge_base, with_deleted=True, with_partial=wp)
        logs = self._read_files(log_rels, with_deleted=True, with_partial=wp)
        merged = self._merge_mor(base.unionByName(logs)).drop(META_DELETED)
        # compaction REPAIRS key locality while it merges (log appends arrive
        # in arrival order): the opt-in key-sorted layout costs one ranged
        # exchange of exactly the bytes compaction is rewriting anyway
        rels = self._write_files(
            merged, instant, range_key_layout=max(len(merge_base), 1)
        )
        self._publish_occ(
            Instant(
                instant,
                "replacecommit",
                rels,
                touched,
                {
                    "operation": "compaction",
                    "numFileGroupsCompacted": len(
                        {os.path.dirname(r) for r in log_rels}
                    ),
                },
            ),
            since=latest,
            partitions={self._partition_of(r) for r in touched},
            occ_scope="files",
            precondition=_still_valid,
        )
        return instant

    def compact(self) -> str | None:
        """M14: inline compaction — the plan :meth:`schedule_compaction` would
        cut, held in memory and executed at once by the executor
        :meth:`run_compaction` uses (Hudi's ``--mode scheduleAndExecute``).
        Returns the replacecommit instant, or None when there is nothing live
        to compact or the plan was voided before it ran."""
        plan = self._compaction_plan()
        return None if plan is None else self._execute_compaction(plan)

    def compact_logs(self, min_logs_per_partition: int = 4) -> str | None:
        """Hudi 1.0 LOG compaction (``hoodie.log.compaction.enable``): stitch
        many small MOR log files into ONE consolidated log file per partition
        — no base files written, so it's the cheap small-file service for
        write-heavy tables where full compaction (a base rewrite) would be
        premature. Partitions with fewer than ``min_logs_per_partition`` live
        logs are untouched.

        Exactness under concurrency: the output keeps every row that could
        still win a future merge — all alive versions newer than the key's
        own last tombstone epoch (with their ORIGINAL commit instants and
        META_PARTIAL column, so row- and column-level resolution are both
        unchanged) plus the max-epoch tombstone per key. Only provably-dead
        rows are dropped: alive versions at-or-before the tombstone epoch
        (no later commit can resurrect them — the epoch filter is monotone
        in the global tombstone max) and dominated tombstones (readers only
        consult the max). Because no cross-version resolution is baked in,
        the result is exact even against logs published concurrently or by
        late writers. Publishes one deltacommit replacing the input logs,
        under partition-scoped OCC."""
        files, latest = self.timeline.live_files()
        by_part: dict[str, list[str]] = {}
        for r, (_, a) in files.items():
            if a == "deltacommit":
                by_part.setdefault(self._partition_of(r), []).append(r)
        target = sorted(p for p, rs in by_part.items() if len(rs) >= min_logs_per_partition)
        if not target:
            return None
        log_rels = sorted(r for p in target for r in by_part[p])
        wp = self._partial_in(files, log_rels)
        logs = self._read_files(log_rels, with_deleted=True, with_partial=wp)
        if self.config.record_key:
            # the tombstone epoch follows COMPLETION order, same as the live
            # merge (_merge_mor): a row minted before a tombstone but
            # completed after it is alive and must survive the stitch
            w = Window.partitionBy(META_KEY)
            d = logs.withColumn("__cseq", self._commit_order_expr()).withColumn(
                "__last_del",
                F.max(F.when(F.col(META_DELETED), F.col("__cseq"))).over(w),
            )
            logs = d.filter(
                (F.col(META_DELETED) & (F.col("__cseq") == F.col("__last_del")))
                | (
                    (~F.col(META_DELETED))
                    & (
                        F.col("__last_del").isNull()
                        | (F.col("__cseq") > F.col("__last_del"))
                    )
                )
            ).drop("__last_del", "__cseq")
        instant = new_instant()
        rels = self._write_files(logs, instant)
        self._publish_occ(
            Instant(
                instant,
                "deltacommit",
                rels,
                log_rels,
                {
                    "operation": "log_compaction",
                    "numLogFilesCompacted": len(log_rels),
                    "numLogFilesOut": len(rels),
                    **({"has_partial_rows": True} if wp else {}),
                },
            ),
            since=latest,
            partitions=set(target),
        )
        return instant

    def schedule_compaction(self, max_io_bytes: int | None = None) -> str | None:
        """Write a ``compactionplan`` instant (Hudi's ``compaction.requested``;
        the schedule half of the reference's standalone HoodieCompactor run —
        ``--mode scheduleAndExecute``, ``flink/.README.md:63-70``):
        the plan names exactly the live log files to resolve and the base
        files they pull in, so a DIFFERENT process — an async compactor, the
        services scheduler — can execute it later while writers keep appending
        logs (``run_compaction``). Returns the plan instant, or None when the
        table has no live logs. Plans are advisory until executed: anything
        that invalidates one (clustering, delete_partition, a competing
        compactor) is detected at execute time and the plan is discarded, so
        scheduling never blocks or conflicts with writers."""
        plan = self._compaction_plan(max_io_bytes=max_io_bytes)
        if plan is None:
            return None
        self.timeline.write(plan)
        return plan.instant

    def pending_compactions(self) -> list[Instant]:
        """Scheduled-but-not-executed compaction plans, oldest first."""
        return sorted(
            (i for i in self.timeline.instants() if i.action == "compactionplan"),
            key=lambda i: i.instant,
        )

    def run_compaction(self, plan_instant: str | None = None) -> str | None:
        """Execute a scheduled compaction plan (Hudi's async HoodieCompactor
        half of the schedule/execute split — the reference runs exactly this
        job standalone: ``flink/.README.md:63-70``, ``--mode
        scheduleAndExecute`` over ``clusteringjob.properties``) with the
        executor inline :meth:`compact` uses (``_execute_compaction``
        documents its validation and OCC scope). A voided plan is discarded
        (returns None; the next ``schedule_compaction`` picks up the current
        state); a lost OCC race leaves it pending — the next run revalidates
        it."""
        plan = self._next_plan(self.pending_compactions(), plan_instant)
        if plan is None:
            return None
        out = self._execute_compaction(plan)
        self.timeline.remove(plan.instant)  # executed, or stale and discarded
        return out

    def schedule_indexing(
        self, kind: str, name: str | None = None, expr: str | None = None
    ) -> str:
        """Cut an ``indexingplan`` instant — the schedule half of Hudi 1.0's
        async indexing (``hoodie.metadata.index.async=true`` + the standalone
        HoodieIndexer job's ``--mode scheduleAndExecute``): building an index
        over a 100 TB table is a full-scan job no writer should run inline,
        so CREATE INDEX records intent and a service process executes it.

        ``kind``: ``"record_index"``; ``"secondary"`` with ``name`` = the
        column; or ``"expression"`` with ``name`` + ``expr``. Scheduling an
        index that already exists plans a generational REBUILD (compact the
        superset / re-certify after rollback invalidation). Unlike
        compaction/clustering plans, indexing plans pin no files and are
        never voided by table motion: the generational build (snapshot scan
        + locked catch-up + writer-side publish re-append guard) absorbs
        every commit that lands between schedule and execute."""
        if kind == "record_index":
            if not self.config.record_key:
                raise ValueError("record index requires a record key")
            meta = {"kind": kind}
        elif kind == "secondary":
            if not name or name not in self.schema.names:
                raise ValueError(f"secondary indexing needs an existing column, got {name!r}")
            self._check_index_name(name)
            meta = {"kind": kind, "name": name, "expr": name}
        elif kind == "expression":
            if not name or not expr:
                raise ValueError("expression indexing needs name and expr")
            self._check_index_name(name)
            meta = {"kind": kind, "name": name, "expr": expr}
        else:
            raise ValueError(f"unknown indexing kind {kind!r}")
        instant = new_instant()
        self.timeline.write(
            Instant(
                instant,
                "indexingplan",
                [],
                [],
                {"operation": "indexing_schedule", **meta},
            )
        )
        return instant

    def pending_indexings(self) -> list[Instant]:
        """Scheduled-but-not-executed indexing plans, oldest first."""
        return sorted(
            (i for i in self.timeline.instants() if i.action == "indexingplan"),
            key=lambda i: i.instant,
        )

    def run_indexing(self, plan_instant: str | None = None) -> str | None:
        """Execute one pending indexing plan (the HoodieIndexer execute half;
        ``run_services`` calls this once per pass). Idempotent by
        construction — absent index → build, present index → generational
        rebuild — so re-running after a crash or an OCC loss is safe; the
        plan instant is removed only after the build publishes."""
        plan = self._next_plan(self.pending_indexings(), plan_instant)
        if plan is None:
            return None
        name = plan.meta.get("name", self.RECORD_INDEX)
        if self._index_meta(name) is not None:
            self.rebuild_index(name)
        elif name == self.RECORD_INDEX:
            self.create_record_index()
        else:
            self.create_expression_index(name, plan.meta["expr"])
        self.timeline.remove(plan.instant)
        return name

    def _late_publishers(self, plan: Instant) -> list[str]:
        """Completed data instants minted BEFORE the plan that were not on the
        timeline when the plan was cut — writers whose log rows can predate a
        tombstone epoch inside the plan (compacting the tombstone away would
        resurrect them), so their appearance voids the plan."""
        known = set(plan.meta["known_instants"])
        return [
            i.instant
            for i in self.timeline.completed_data_instants()
            if i.instant < plan.instant and i.instant not in known
        ]

    def run_services(
        self,
        compact_after: int = 5,
        clean_retain: int = 10,
        archive_retain: int = 20,
        index_bloat_ratio: float = 3.0,
        split_threshold_bytes: int = 128 * 1024 * 1024,
        partition_ttl_seconds: float | None = None,
        log_compact_after: int = 8,
        small_file_trigger: int = 0,
        small_file_target_bytes: int = 8 * 1024 * 1024,
    ) -> dict:
        """Hudi's async table services as one policy-driven maintenance pass
        (the standalone compactor/cleaner/clustering jobs of
        ``clusteringjob.properties`` / DeltaStreamer's inline services, rolled
        into the call a scheduler would run per table per cadence).

        Order is deliberate: heal first (sweep dead writers' debris so the
        services see only durable state), compaction next (resolves logs —
        including partial-update chains — into base files), bucket resize
        after (splits judge post-compaction sizes), then cleaning (older
        versions freed by compaction become deletable), index rebuild (any
        index invalidated by a rollback, plus supersets whose entries exceed
        ``index_bloat_ratio`` × live rows), and timeline archival last.
        Every step tolerates losing an OCC race to a concurrent writer —
        services are best-effort maintenance, never a correctness event.
        Returns a report of what each service did.

        Concurrent-writer safety: heal runs AGE-GATED here (2× the lock TTL)
        — a fresh staging dir or a moved-but-unpublished data file may belong
        to an in-flight commit and is left alone; only a dead writer's debris
        is old enough to sweep. Call ``heal()`` directly for the immediate
        single-maintainer crash-recovery sweep.

        O(maintenance), not O(table): the index-bloat trigger reads parquet
        FOOTER row counts of the live files and the index datasets (local
        metadata, like ``_write_bloom_filters``) — no snapshot merge, no
        Spark job, no data-file reads. Footer counts over base + log files
        overcount live rows for MOR (updates/deletes in logs), which only
        makes the trigger later, never wrong.
        """
        report: dict = {}
        report["healed"] = self.heal(min_age_seconds=2 * self.LOCK_TTL_SECONDS)
        if partition_ttl_seconds is not None and self.config.partition_by:
            # Hudi 1.0 partition TTL (``hoodie.partition.ttl.strategy`` =
            # KEEP_BY_TIME): drop partitions whose NEWEST file-adding instant
            # is older than the TTL. Age comes from instant ids (UTC
            # timestamps) via the manifest — zero data reads; each drop is
            # one metadata-only delete_partition replacecommit. Runs before
            # compaction so doomed partitions are never compacted first.
            from datetime import datetime, timezone

            expired = []
            newest: dict[str, str] = {}
            for r, (inst, _a) in self.timeline.live_files()[0].items():
                p = self._partition_of(r)
                if inst > newest.get(p, ""):
                    newest[p] = inst
            now = datetime.now(timezone.utc)
            for p, inst in sorted(newest.items()):
                t0 = datetime.strptime(inst[:17], "%Y%m%d%H%M%S%f").replace(
                    tzinfo=timezone.utc
                )
                if (now - t0).total_seconds() >= partition_ttl_seconds:
                    try:
                        self.delete_partition(p)
                        expired.append(p)
                    except (ConcurrentWriteConflict, ValueError):
                        pass  # a concurrent write revived it — keep it
            report["partitions_expired"] = expired
        if self.config.table_type == "mor":
            # execute any plan a scheduler cut earlier (async schedule/execute
            # split) before the inline policy check — oldest plan first, one
            # per pass; a voided plan is discarded inside run_compaction
            if self.pending_compactions():
                try:
                    report["compaction_plan_executed"] = self.run_compaction()
                except ConcurrentWriteConflict:
                    report["compaction_plan_executed"] = None
            if self.should_compact(compact_after):
                try:
                    report["compacted"] = self.compact()
                except ConcurrentWriteConflict:
                    report["compacted"] = None
            elif log_compact_after:
                # full compaction didn't trigger: stitch small-log pileups
                # (Hudi 1.0 log compaction — no base rewrite, IO-consolidation
                # only) so write-heavy partitions don't accumulate tiny files
                # between full compactions
                try:
                    report["logs_compacted"] = self.compact_logs(
                        min_logs_per_partition=log_compact_after
                    )
                except ConcurrentWriteConflict:
                    report["logs_compacted"] = None
        if self.pending_clusterings():
            # async clustering executor half (plans are base-only; if the
            # compaction above replaced planned files, run_clustering detects
            # it and discards the plan — the next schedule re-plans)
            try:
                report["clustering_plan_executed"] = self.run_clustering()
            except ConcurrentWriteConflict:
                report["clustering_plan_executed"] = None
        if small_file_trigger:
            # small-file clustering policy (Hudi's small-file plan strategy
            # inside the services loop): a partition holding >= the trigger
            # count of sub-limit base files gets its bins packed. Planning is
            # one os.stat per live file; a no-op table costs nothing else.
            limit = small_file_target_bytes // 2
            by_part: dict[str, int] = {}
            for r, (_i, a) in self.timeline.live_files()[0].items():
                if a == "deltacommit":
                    continue
                try:
                    if os.path.getsize(os.path.join(self.base, r)) < limit:
                        p = self._partition_of(r)
                        by_part[p] = by_part.get(p, 0) + 1
                except OSError:
                    continue
            if any(n >= small_file_trigger for n in by_part.values()):
                try:
                    report["small_files_clustered"] = self.cluster_small_files(
                        target_bytes=small_file_target_bytes
                    )
                except ConcurrentWriteConflict:
                    report["small_files_clustered"] = None
        if self.config.bucket_ranges or self.config.n_buckets:
            try:
                report["bucket_split"] = self.maybe_split_buckets(
                    split_threshold_bytes=split_threshold_bytes
                )
            except ConcurrentWriteConflict:
                report["bucket_split"] = None
        report["cleaned"] = self.clean(retain_commits=clean_retain)
        if self.pending_indexings():
            # async indexing executor half (HoodieIndexer): build/rebuild the
            # oldest scheduled index — one full-scan job per pass, bounded
            try:
                report["indexing_plan_executed"] = self.run_indexing()
            except ConcurrentWriteConflict:
                report["indexing_plan_executed"] = None
        rebuilt = []
        names = self.index_names()
        live_rows = 0
        if names:
            live_rows = self._footer_rows(
                os.path.join(self.base, r) for r in self.timeline.live_files()[0]
            )
        for name in names:
            meta = self._index_meta(name)
            if meta is None:
                continue
            if meta["valid"]:
                n_entries = self._footer_rows(
                    self._index_parquet_files(self._index_data_dir(name, meta))
                )
                if not (live_rows and n_entries > index_bloat_ratio * live_rows):
                    continue
            self.rebuild_index(name)  # rollback invalidated it, or superset bloat
            rebuilt.append(name)
        report["indexes_rebuilt"] = rebuilt
        report["archived"] = self.archive_timeline(retain_instants=archive_retain)
        return report

    @staticmethod
    def _index_parquet_files(data_dir: str) -> list[str]:
        """The parquet files of an index generation that Spark's reader sees:
        every path component below ``data_dir`` starting with ``_`` or ``.``
        is hidden (a committer's in-flight ``_temporary``, ``_SUCCESS``,
        ``.crc`` checksums)."""
        out = []
        for root, dirs, fns in os.walk(data_dir):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            out.extend(
                os.path.join(root, fn)
                for fn in fns
                if fn.endswith(".parquet") and not fn.startswith(("_", "."))
            )
        return out

    @staticmethod
    def _footer_rows(paths) -> int:
        """Sum of parquet footer ``num_rows`` — pure local metadata reads
        (the same trick as the bloom/stats sidecar builders). On an object
        store at 100 TB this loop would ride the commit metadata instead;
        either way no data pages are read."""
        import pyarrow.parquet as pq

        total = 0
        for p in paths:
            try:
                total += pq.ParquetFile(p).metadata.num_rows
            except Exception:
                continue
        return total

    def should_compact(
        self, max_delta_commits: int = 5, max_delta_seconds: float | None = None
    ) -> bool:
        """NUM_OR_TIME trigger — ``DeltaStreamerExample.scala:52-55`` (5 delta
        commits OR 600 s since the oldest uncompacted delta). The age check
        parses the oldest pending deltacommit's instant id (UTC timestamp)."""
        pending = []
        for inst in reversed(self.timeline.completed_data_instants()):
            if inst.action == "deltacommit":
                pending.append(inst.instant)
            else:
                break
        if len(pending) >= max_delta_commits:
            return True
        if max_delta_seconds is not None and pending:
            from datetime import datetime, timezone

            oldest = min(pending)
            t0 = datetime.strptime(oldest[:17], "%Y%m%d%H%M%S%f").replace(tzinfo=timezone.utc)
            age = (datetime.now(timezone.utc) - t0).total_seconds()
            if age >= max_delta_seconds:
                return True
        return False

    def cluster(self, n_buckets: int) -> str:
        """M15: clustering/bucket-resize — rewrite file groups with a new bucket
        count (consistent-hash split 1→8 of ``consistent_hashing.sql:44-49``).
        OCC-published; the bucket-count change rolls back if a concurrent
        commit wins the race. Range-routed tables re-balance to ``n_buckets``
        even ranges instead (still one rewrite; per-bucket growth should use
        ``split_bucket``)."""
        if self.config.bucket_ranges:
            return self.convert_to_ranges(n_buckets)
        return self._rebucket(n_buckets, None)

    def _range_bucket_expr(self):
        """Ring position of the record key → owning bucket's lower boundary."""
        h = F.pmod(
            F.xxhash64(*[F.col(k) for k in self.config.record_key]), F.lit(BUCKET_RING)
        )
        bs = sorted(self.config.bucket_ranges)
        expr = F.lit(bs[0]).cast("bigint")
        for b in bs[1:]:
            expr = F.when(h >= F.lit(b), F.lit(b).cast("bigint")).otherwise(expr)
        return expr

    def _bucket_files(self, lower: int) -> tuple[list[str], list[str]]:
        """(base_rels, log_rels) of one range-bucket's live file group."""
        files, _ = self.timeline.live_files()
        rels = [
            r
            for r in files
            if self._partition_of_relpath(r).get(BUCKET_COL) == str(lower)
        ]
        return (
            sorted(r for r in rels if files[r][1] != "deltacommit"),
            sorted(r for r in rels if files[r][1] == "deltacommit"),
        )

    def convert_to_ranges(self, n_buckets: int) -> str:
        """Migrate modulo bucket routing to consistent-hash ranges: one full
        rewrite (the LAST full rewrite — every resize afterwards is a
        per-bucket ``split_bucket``) with ``n_buckets`` equal ring ranges."""
        return self._rebucket(None, [i * BUCKET_RING // n_buckets for i in range(n_buckets)])

    def _rebucket(self, n_buckets: int | None, bucket_ranges: list[int] | None) -> str:
        """Full-table rewrite under new bucket routing — ``n_buckets`` modulo
        buckets or ``bucket_ranges`` ring ranges — published as one
        replacecommit that conflicts with any concurrent commit. The routing
        change is saved before the write and restored if it fails."""
        instant = new_instant()
        old_files, latest = self.timeline.live_files()
        old = (self.config.n_buckets, self.config.bucket_ranges)
        self.config.n_buckets, self.config.bucket_ranges = n_buckets, bucket_ranges
        self._save_props()
        try:
            snapshot = self.read(with_meta=True)
            rels = self._write_files(snapshot, instant)
            self._publish_occ(
                Instant(
                    instant,
                    "replacecommit",
                    rels,
                    sorted(old_files),
                    {
                        "operation": "clustering",
                        "numOutputFileGroups": n_buckets or len(bucket_ranges),
                    },
                ),
                since=latest,
                partitions=None,
            )
        except BaseException:
            self.config.n_buckets, self.config.bucket_ranges = old
            self._save_props()
            raise
        return instant

    def split_bucket(self, lower: int) -> str:
        """M15 incremental resize: split ONE overflowing bucket at its ring
        midpoint, rewriting only that bucket's files — every other file group
        is untouched (checked by the split test against the replacecommit's
        file lists). This is the consistent-hashing contract of
        ``consistent_hashing.sql:44-49`` / ``FindBucketNumber.java:47-53``
        that modulo bucketing cannot deliver (doubling N remaps every key).

        Requires the bucket to have no pending log files (compact first) —
        rewriting a log under a replacecommit would relabel its rows as base
        and break merge-on-read versioning, the same reason Hudi clustering
        refuses file groups with pending logs."""
        bs = sorted(self.config.bucket_ranges or [])
        if lower not in bs:
            raise ValueError(f"no bucket with lower bound {lower}")
        idx = bs.index(lower)
        upper = bs[idx + 1] if idx + 1 < len(bs) else BUCKET_RING
        mid = (lower + upper) // 2
        if mid == lower:
            raise ValueError(f"bucket {lower} is a single ring slot — cannot split")
        base_rels, log_rels = self._bucket_files(lower)
        if log_rels:
            raise ValueError(f"bucket {lower} has pending log files — compact() first")
        instant = new_instant()
        _, latest = self.timeline.live_files()
        old_ranges = bs
        self.config.bucket_ranges = sorted(bs + [mid])
        self._save_props()
        try:
            rows = self._read_files(base_rels, with_deleted=False)
            rels = self._write_files(rows, instant)  # re-routes across lower/mid
            self._publish_occ(
                Instant(
                    instant,
                    "replacecommit",
                    rels,
                    base_rels,
                    {"operation": "bucket_split", "split": lower, "new_bound": mid},
                ),
                since=latest,
                partitions={self._partition_of(r) for r in base_rels} or {""},
            )
        except BaseException:
            self.config.bucket_ranges = old_ranges
            self._save_props()
            raise
        return instant

    def maybe_split_buckets(
        self,
        split_threshold_bytes: int = 128 * 1024 * 1024,
        max_buckets: int = 8,
        min_buckets: int = 1,
    ) -> str | None:
        """M15/J5: consistent-hash auto-resize — when the average live-file (bucket)
        size crosses the split threshold, double the bucket count and rewrite.

        Parity: ``hoodie.bucket.index.num.buckets`` growing 1→8 under
        ``bucket.index.max.num.buckets`` / ``split.threshold``
        (``consistent_hashing.sql:44-49``, ``clusteringjob.properties:2-14``,
        ``FindBucketNumber.java:47-53``). Returns the clustering instant when a
        split ran, else None.

        With consistent-hash ranges the resize is INCREMENTAL: only the single
        largest over-threshold bucket is split (compacting it first if it has
        pending logs); modulo tables keep the legacy full-rewrite doubling.
        """
        files, _ = self.timeline.live_files()
        if not files:
            return None
        if self.config.bucket_ranges:
            if len(self.config.bucket_ranges) >= max_buckets:
                return None
            sizes: dict[str, int] = {}
            for r in files:
                b = self._partition_of_relpath(r).get(BUCKET_COL)
                if b is None:
                    continue
                p = os.path.join(self.base, r)
                if os.path.exists(p):
                    sizes[b] = sizes.get(b, 0) + os.path.getsize(p)
            if not sizes:
                return None
            biggest, sz = max(sizes.items(), key=lambda kv: kv[1])
            if sz < split_threshold_bytes:
                return None
            if self._bucket_files(int(biggest))[1]:
                self.compact()
            return self.split_bucket(int(biggest))
        current = self.config.n_buckets or min_buckets
        if current >= max_buckets:
            return None
        sizes_l = [
            os.path.getsize(os.path.join(self.base, r))
            for r in files
            if os.path.exists(os.path.join(self.base, r))
        ]
        n_parts = max(len({tuple(self._partition_of_relpath(r).items()) for r in files}), 1)
        avg_bucket_bytes = sum(sizes_l) / (current * n_parts)
        if avg_bucket_bytes < split_threshold_bytes:
            return None
        return self.cluster(min(current * 2, max_buckets))

    def savepoint(self, instant: str | None = None) -> str:
        """Hudi savepoint: pin an instant's snapshot — ``clean`` keeps every
        file live AS OF a savepoint, and ``restore_to_savepoint`` rewinds the
        table to it (rolling back every later commit). Metadata-only marker."""
        insts = self.timeline.completed_data_instants()
        if not insts:
            raise ValueError("nothing to savepoint")
        target = instant or insts[-1].instant
        if not any(i.instant == target for i in insts):
            raise ValueError(f"unknown instant {target}")
        self.timeline.write(Instant(new_instant(), "savepoint", [], [], {"target": target}))
        return target

    def savepoints(self) -> list[str]:
        return [
            i.meta["target"]
            for i in self.timeline.instants()
            if i.action == "savepoint" and not i.meta.get("released")
        ]

    def release_savepoint(self, instant: str) -> None:
        for i in self.timeline.instants():
            if i.action == "savepoint" and i.meta.get("target") == instant:
                # instants share their read-only meta with the timeline cache
                i.meta = {**i.meta, "released": True}
                self.timeline.write(i)

    def restore_to_savepoint(self, instant: str) -> list[str]:
        """Rewind to a savepointed snapshot: roll back every data commit after
        it, newest first (each rollback is itself a timeline event)."""
        if instant not in self.savepoints():
            raise ValueError(f"{instant} is not an active savepoint")
        rolled = []
        for inst in reversed(self.timeline.completed_data_instants()):
            if inst.instant > instant:
                self.rollback(inst.instant)
                rolled.append(inst.instant)
        return rolled

    def clean(
        self,
        retain_commits: int = 10,
        policy: str = "commits",
        retain_hours: float = 24.0,
    ) -> list[str]:
        """M16: physically delete files no longer referenced by the retained
        window — keeping every file needed to reconstruct ANY retained
        snapshot (time travel within the window must survive cleaning), plus
        files live as of any active savepoint (pinned).

        Policies (``hoodie.cleaner.policy``):
        - ``commits`` (KEEP_LATEST_COMMITS, default): retain the last
          ``retain_commits`` snapshots.
        - ``hours`` (KEEP_LATEST_BY_HOURS): retain every snapshot younger
          than ``retain_hours`` (age from the instant id's UTC timestamp),
          and always at least the latest one — the calendar-driven retention
          ops teams actually configure. (KEEP_LATEST_FILE_VERSIONS is
          deliberately absent: this engine's COW rewrites carry no file-group
          identity chain, so "versions of a file group" has no referent —
          the commits/hours policies express the same retention intents.)"""
        insts = self.timeline.completed_data_instants()
        if policy == "hours":
            from datetime import datetime, timedelta, timezone

            cut_dt = datetime.now(timezone.utc) - timedelta(hours=retain_hours)
            cutoff = cut_dt.strftime("%Y%m%d%H%M%S%f")[:-3] + "000"
            retained = [i for i in insts if i.instant >= cutoff] or insts[-1:]
            if len(retained) >= len(insts):
                return []
            cutoff = retained[0].instant
        elif policy == "commits":
            if len(insts) <= retain_commits:
                return []
            cutoff = insts[-retain_commits].instant
            retained = insts[-retain_commits:]
        else:
            raise ValueError(f"clean policy must be commits|hours, got {policy!r}")
        keep: set[str] = set(self.timeline.live_files()[0])
        for inst in retained:
            keep.update(self.timeline.live_files(inst.instant)[0])
        for sp in self.savepoints():
            keep.update(self.timeline.live_files(sp)[0])
        removed: list[str] = []
        for inst in insts:
            if inst.instant >= cutoff:
                continue
            for rel in inst.files_added:
                if rel not in keep:
                    p = os.path.join(self.base, rel)
                    if os.path.exists(p):
                        os.remove(p)
                        removed.append(rel)
        if removed:
            self._gc_file_stats(set(removed))
            self.timeline.write(
                Instant(new_instant(), "clean", [], [], {"removed": removed})
            )
        # sidecar hygiene runs even on a no-op clean: the per-instant
        # partition-stats envelopes fold to one baseline regardless of
        # whether any data file aged out this pass
        self._compact_partition_stats()
        return removed

    def _gc_file_stats(self, dead: set[str]) -> None:
        """Drop stats-sidecar entries for physically deleted files so the
        key-range index stays O(live files). Safe by construction: pruning
        treats a missing stats entry as 'keep the file', so over-deleting an
        entry can only cost IO, never correctness. Bloom sidecars follow the
        same contract (missing bloom ⇒ keep) and are GC'd alongside."""
        for sub in (self.STATS_DIR, self.BLOOMS_DIR):
            d = os.path.join(self.base, sub)
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if not fn.endswith(".json"):
                    continue
                p = os.path.join(d, fn)
                with open(p) as f:
                    stats = json.load(f)
                kept = {rel: v for rel, v in stats.items() if rel not in dead}
                if len(kept) == len(stats):
                    continue
                if kept:
                    tmp = p + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(kept, f)
                    os.replace(tmp, p)
                else:
                    os.remove(p)

    def _compact_partition_stats(self) -> None:
        """Fold the per-instant partition-stats sidecars into one baseline
        file so the envelope metadata stays O(partitions) forever, however
        many commits the table has seen. The widening merge is idempotent and
        order-independent, so folding loses nothing — and envelopes never
        NARROW on clean by design (a stale-wide bound is conservative; a
        narrowed one could be lossy against files the merge didn't see).
        Runs on every clean, piggybacking clean's single-maintainer cadence."""
        d = os.path.join(self.base, self.PARTITION_STATS_DIR)
        if not os.path.isdir(d):
            return
        fns = [fn for fn in sorted(os.listdir(d)) if fn.endswith(".json")]
        if len(fns) <= 1:
            return
        merged, covered = self._merged_partition_stats_raw()
        merged[self._PSTATS_COVERED_KEY] = sorted(covered)
        tmp = os.path.join(d, ".baseline.json.tmp")
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, os.path.join(d, "0baseline.json"))
        for fn in fns:
            if fn != "0baseline.json":
                try:
                    os.remove(os.path.join(d, fn))
                except OSError:
                    pass  # raced with a concurrent maintainer: already gone

    def archive_timeline(self, retain_instants: int = 20) -> int:
        """Timeline archival (Hudi ``hoodie.archive.*`` / ``hoodie.keep.*``):
        fold instants older than the retained window into one checkpoint
        manifest so every read/write plans against O(retain) instants no
        matter how many commits the table has seen — the fix for the
        continuous-ingestion mode where a streaming writer accumulates
        thousands of deltacommits (``DeltaStreamerExample.scala:46-47``).
        Active savepoints pin the boundary (their snapshots stay
        reconstructable); time travel / incremental reads before the boundary
        raise, exactly like Hudi's archived timeline. Returns the number of
        instants archived."""
        return self.timeline.archive(retain_instants, pinned=set(self.savepoints()))

    def rollback(self, instant: str | None = None) -> str | None:
        """M17: undo the latest (or given) commit; its files become invisible and
        are physically removed. Heals the fault-injection scenario of
        ``compatibility_test.sh:155-186``."""
        insts = self.timeline.completed_data_instants()
        if not insts:
            return None
        target = insts[-1] if instant is None else next(
            (i for i in insts if i.instant == instant), None
        )
        if target is None:
            return None
        rb = new_instant()
        self.timeline.write(
            Instant(rb, "rollback", [], target.files_added, {"target": target.instant})
        )
        for rel in target.files_added:
            p = os.path.join(self.base, rel)
            if os.path.exists(p):
                os.remove(p)
        if target.files_removed:
            # Rolling back a commit that REPLACED files resurrects the older
            # row versions those files superseded — versions a secondary index
            # built (or rebuilt) after the commit has never seen, which breaks
            # the complete-superset contract ("rollbacks only remove rows" is
            # false for replace commits). Mark every index invalid: lookups
            # and scan auto-routing fall back to full-predicate scans (always
            # correct) until rebuild_index / run_services re-certifies them.
            # The record index breaks the same way: a resurrected file may
            # predate the index build (or the latest rebuild compacted its
            # entries away as dead) — its keys would locate to nothing, and a
            # lossy location prune is a LOST UPDATE, not bounded extra IO;
            # its probes fall back to range/bloom until re-certified.
            for name in self.index_names():
                meta = self._index_meta(name)
                if meta is not None and meta["valid"]:
                    meta.update({"valid": False, "invalidated_by": rb})
                    self._write_index_meta(name, meta)
        return rb

    def heal(self, min_age_seconds: float = 0.0) -> list[str]:
        """Remove orphan data files with no timeline entry (a write that died before
        its atomic timeline publish), stale staging dirs, and index generations
        superseded by ``rebuild_index``. Readers are already immune
        (manifest-driven); this reclaims space.

        ``min_age_seconds`` gates the sweep by file mtime. The default 0 keeps
        ``heal()`` the crash-recovery tool it was built as (single maintainer,
        nothing in flight, sweep everything now). A maintenance pass running
        CONCURRENTLY with live writers (``run_services``) must pass an age
        gate: a fresh staging dir or a data file moved into place but not yet
        published may belong to an in-flight commit — deleting it would leave
        a published commit referencing missing files. Anything older than the
        gate (default 2× the lock TTL over in run_services) belongs to a dead
        writer. Superseded index generations are always age-gated by the lock
        TTL so a reader mid-scan of the old generation finishes first."""
        now = _time.time()

        def _older(path: str, age: float) -> bool:
            try:
                return (now - os.path.getmtime(path)) >= age
            except OSError:
                return False  # vanished mid-walk: someone else owns it

        known: set[str] = set(self.timeline.checkpoint_files())
        for inst in self.timeline.instants():
            known.update(inst.files_added)
        removed: list[str] = []
        lock = os.path.join(self.base, TIMELINE_DIR, "_lock")
        _sweep_broken_locks(lock, self.LOCK_TTL_SECONDS)
        if _break_stale_lock(lock, self.LOCK_TTL_SECONDS):
            removed.append(os.path.join(TIMELINE_DIR, "_lock"))
        staging_root = os.path.join(self.base, ".staging")
        if os.path.isdir(staging_root):
            for d in os.listdir(staging_root):
                p = os.path.join(staging_root, d)
                if min_age_seconds and not _older(p, min_age_seconds):
                    continue  # possibly an in-flight write's staging dir
                shutil.rmtree(p, ignore_errors=True)
                removed.append(os.path.join(".staging", d))
        # crashed early-conflict markers: completed writers clean up after
        # themselves (try/finally in _apply_cow); anything left past the
        # MARKER TTL belongs to a dead writer and would fail-fast live
        # writers for no reason. Live long-running merges HEARTBEAT their
        # plan.json mtime (marker_heartbeat), so age is judged on the plan
        # file when present — the dir's own mtime never refreshes — and the
        # floor is MARKER_TTL (> lock TTL): the conflict checker honors
        # markers up to that age, so sweeping younger ones would disarm an
        # in-flight writer's fail-fast protection mid-merge.
        markers_root = os.path.join(self.base, self.MARKERS_DIR)
        if os.path.isdir(markers_root):
            marker_age = max(min_age_seconds, self.MARKER_TTL_SECONDS)
            completed = {i.instant for i in self.timeline.instants()}
            for d in os.listdir(markers_root):
                p = os.path.join(markers_root, d)
                plan = os.path.join(p, "plan.json")
                freshest = plan if os.path.exists(plan) else p
                if d in completed or _older(freshest, marker_age):
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(os.path.join(self.MARKERS_DIR, d))
        for root, dirs, fns in os.walk(self.base):
            # engine sidecar dirs hold parquet/json the TIMELINE doesn't
            # reference by design (the secondary-index datasets especially) —
            # they are not orphans and must never be swept
            dirs[:] = [
                d
                for d in dirs
                if d
                not in (
                    "_timeline",
                    ".staging",
                    self.INDEX_DIR,
                    self.RECORD_INDEX_DIR,
                    self.STATS_DIR,
                    self.BLOOMS_DIR,
                )
                and not d.startswith(".trash-")
            ]
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                rel = os.path.relpath(p, self.base)
                if rel not in known:
                    if min_age_seconds and not _older(p, min_age_seconds):
                        continue  # moved into place but not yet published
                    os.remove(p)
                    removed.append(rel)
        # superseded index generations (rebuild_index leaves them for
        # in-flight readers) and dropped-index trash dirs — age-gated by the
        # lock TTL at minimum
        gen_age = max(min_age_seconds, self.LOCK_TTL_SECONDS)

        def _sweep(rel: str) -> None:
            p = os.path.join(self.base, rel)
            if os.path.isdir(p) and _older(p, gen_age):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(rel)

        for root in (self.INDEX_DIR, ""):  # drop_index renames beside the index
            if os.path.isdir(os.path.join(self.base, root)):
                for sub in sorted(os.listdir(os.path.join(self.base, root))):
                    if sub.startswith(".trash-"):
                        _sweep(os.path.join(root, sub))
        for name in self.index_names():
            meta = self._index_meta(name)
            if meta is None:
                continue
            d = self._index_dir(name)
            for sub in sorted(os.listdir(d)):
                # generation of a data dir (``data`` = 0, ``data_gNNNN`` = N).
                # Only generations strictly LOWER than current are swept: a gen
                # ABOVE current belongs to an in-flight rebuild whose off-lock
                # build phase may exceed the age gate (it is a full table
                # scan) — rmtree'ing it would let the subsequent locked swap
                # mark a gutted dir valid and silently break the superset
                # lookup contract (advisor, round 5)
                m = _re.fullmatch(r"data(?:_g(\d+))?", sub)
                if m and int(m[1] or 0) < meta["gen"]:
                    _sweep(os.path.relpath(os.path.join(d, sub), self.base))
        return removed

    # ------------------------------------------------------------- versioning

    def upgrade(self, to_version: int) -> None:
        """M18: table version migration (``DowngradeTable.scala:20-40`` validates
        direction; our format is version-stable so this is metadata-only)."""
        if to_version < self.config.table_version:
            raise ValueError("use downgrade() to move to an older version")
        self.config.table_version = to_version
        self._save_props()

    def downgrade(self, to_version: int) -> None:
        if to_version > self.config.table_version:
            raise ValueError("use upgrade() to move to a newer version")
        self.config.table_version = to_version
        self._save_props()

    def _save_props(self) -> None:
        """Persist config + schema with schema MERGE-ON-WRITE under a lock:
        auto-evolution in ``_conform`` means two concurrent writers can both
        legitimately evolve the schema (each adding/widening different
        columns); a blind overwrite would lose the other writer's evolution,
        so the on-disk schema is unioned into ours first — fields by name,
        and when both hold the same field at different types the safely-wider
        one wins (same promotion lattice as ``_conform``). Config fields stay
        last-writer-wins: service config changes (bucket ranges, versions)
        are already serialized by their own OCC publish."""
        lock = os.path.join(self.base, f".{PROPS_FILE}.lock")
        fd = _acquire_lock(lock, self.LOCK_TTL_SECONDS, 30.0)
        try:
            self._merge_disk_schema()
            path = os.path.join(self.base, PROPS_FILE)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {"config": asdict(self.config), "schema": self.schema.jsonValue()},
                    f,
                    indent=1,
                )
            # same displacement re-check as _publish_occ: if a stale-lock
            # breaker renamed our lock away while we merged, another writer
            # may have published a newer schema — replacing props now would
            # silently erase their evolution
            try:
                displaced = os.fstat(fd).st_ino != os.stat(lock).st_ino
            except OSError:
                displaced = True
            if displaced:
                raise ConcurrentWriteConflict(
                    "props lock displaced by a stale-lock breaker; retry"
                )
            os.replace(tmp, path)
        finally:
            _release_lock(fd, lock)

    @staticmethod
    def _apply_renames(schema: StructType, log: list) -> tuple[StructType, bool]:
        """Replay a rename log over ``schema``: each [from, to] renames the
        field when ``from`` is present and ``to`` absent (if both exist —
        e.g. ``from`` was re-added as a fresh column — the rename is a no-op
        for this schema)."""
        fields = list(schema.fields)
        changed = False
        for frm, to in log:
            names = {f_.name for f_ in fields}
            if frm in names and to not in names:
                fields = [
                    StructField(to, f_.dataType, f_.nullable) if f_.name == frm else f_
                    for f_ in fields
                ]
                changed = True
        return StructType(fields), changed

    def _merge_disk_schema(self) -> bool:
        """Union the ON-DISK schema into the in-memory one (fields by name;
        when both hold a field at different types the safely-wider one wins —
        same promotion lattice as ``_conform``). Returns True if the schema
        changed. Called under the props lock by ``_save_props``, and at the
        top of every mutation (``_write_changes``) so a STALE handle adopts a
        concurrent writer's evolution before it rewrites files — without
        this, a handle opened before another writer added a column would
        rewrite touched files through its old column list and silently erase
        that column's data.

        Rename/drop aware: the merged rename log (disk's, then local entries
        disk hasn't seen) is replayed over BOTH schemas before the union, so
        a stale handle adopts concurrent renames instead of duplicating the
        column under its old name; dropped-column tombstones from either side
        are removed after the union so a drop is never resurrected by an
        older handle's copy of the field."""
        try:
            with open(os.path.join(self.base, PROPS_FILE)) as f:
                d = json.load(f)
            disk = StructType.fromJson(d["schema"])
            disk_cfg = d.get("config", {})
        except (OSError, KeyError, ValueError):
            return False
        disk_renames = [list(r) for r in disk_cfg.get("renames", [])]
        log = disk_renames + [r for r in self.config.renames if list(r) not in disk_renames]
        dropped = set(disk_cfg.get("dropped_cols", [])) | set(self.config.dropped_cols)
        mine, changed = self._apply_renames(self.schema, log)
        disk, _ = self._apply_renames(disk, log)
        merged = list(mine.fields)
        names = {f_.name: i for i, f_ in enumerate(merged)}
        for f_ in disk.fields:
            i = names.get(f_.name)
            if i is None:
                # adopted fields keep the nullability the evolving writer gave them
                merged.append(StructField(f_.name, f_.dataType, f_.nullable))
                changed = True
            elif f_.dataType != merged[i].dataType and _promotes(
                merged[i].dataType, f_.dataType
            ):
                # type widens; OUR declared nullability for the field is kept
                merged[i] = StructField(f_.name, f_.dataType, merged[i].nullable)
                changed = True
        if dropped and any(f_.name in dropped for f_ in merged):
            merged = [f_ for f_ in merged if f_.name not in dropped]
            changed = True
        if changed:
            self.schema = StructType(merged)
        self.config.renames = log
        self.config.dropped_cols = sorted(dropped)
        return changed


def _stats_json(v):
    """Parquet-footer stat value → JSON-safe scalar with order-preserving string
    forms for temporal types (ISO strings compare lexicographically)."""
    import datetime
    import decimal

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _filter_cond(filters: list[tuple] | None, skip: tuple | None = None):
    """AND of ``(col, op, value)`` predicates (op in =, <, <=, >, >=) as one
    Column, leaving out every predicate equal to ``skip``; None when empty."""
    conds = None
    for col, op, val in filters or []:
        if (col, op, val) == skip:
            continue
        c = F.col(col)
        cond = {"=": c == val, "<": c < val, "<=": c <= val, ">": c > val, ">=": c >= val}[op]
        conds = cond if conds is None else (conds & cond)
    return conds


def _file_may_match(per_col: dict | None, filters: list[tuple]) -> bool:
    """Conservative file-level predicate test against recorded [min, max]:
    False only when NO row can satisfy every filter; unknown columns/types keep
    the file (pruning must never be lossy)."""
    if not per_col:
        return True
    import datetime

    for col, op, val in filters:
        if col not in per_col:
            continue
        lo, hi = per_col[col]
        if isinstance(val, datetime.datetime):
            val = val.isoformat(sep=" ")
        elif isinstance(val, datetime.date):
            val = val.isoformat()
        try:
            ok = {
                "=": lo <= val <= hi,
                "<": lo < val,
                "<=": lo <= val,
                ">": hi > val,
                ">=": hi >= val,
            }[op]
        except TypeError:
            ok = True  # incomparable stat/value: never prune on uncertainty
        if not ok:
            return False
    return True


def _meta_struct() -> StructType:
    from pyspark.sql.types import StringType, StructField

    return StructType(
        [
            StructField(META_COMMIT, StringType()),
            StructField(META_KEY, StringType()),
            StructField(META_PARTITION, StringType()),
        ]
    )
