"""Model-based property testing: random DML sequences vs an in-memory oracle.

A table is semantically a dict key → (precombine, row) with latest-wins upsert,
delete-by-key, overwrite, rollback-of-last-commit, view-preserving compaction, and
MERGE clause lists with SQL semantics (DuckDB 1.0 has no MERGE, so the model is
the oracle there). Hypothesis drives random op sequences through BOTH the engine (COW and MOR variants
of the same sequence) and the model; final snapshots must agree exactly. This is the
reference's differential-testing idea (SURVEY §5.1) generalized from fixed scripts
to the op-sequence space.

Batches are made key-unique before applying: the engine's intra-batch tie-break for
two rows with the same key AND same precombine is deliberately unspecified (any
row_number winner is a valid upsert outcome), so the model only asserts on the
specified semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hudi_examples_spark.sql import Engine
from hudi_examples_spark.table import MergeClause, Table, TableConfig

KEYS = ["k0", "k1", "k2", "k3", "k4", "k5"]
PARTS = ["pa", "pb"]
SCHEMA = "ts BIGINT, uuid STRING, val DOUBLE, part STRING"


@dataclass
class Op:
    kind: str
    rows: list
    clauses: tuple = ()
    via_sql: bool = False


row_st = st.tuples(
    st.integers(min_value=0, max_value=50),  # ts: small range to exercise precombine
    st.sampled_from(KEYS),
    st.integers(min_value=0, max_value=999).map(float),
    st.sampled_from(PARTS),
)

#: MERGE conditions: name -> (SQL over the target/source aliases, the model's
#: predicate over (target row, source row)); ``{v}`` is the value column's
#: current name (rename_val ops change it)
MERGE_CONDS = {
    "src_big": ("source.{v} >= 500", lambda t, s: s[2] >= 500),
    "src_newer": ("source.ts > target.ts", lambda t, s: s[0] > t[0]),
    "src_pb": ("source.part = 'pb'", lambda t, s: s[3] == "pb"),
    "tgt_pa": ("target.part = 'pa'", lambda t, s: t[3] == "pa"),
    "tgt_big": ("target.{v} >= 500", lambda t, s: t[2] >= 500),
}
#: MERGE assignments: name -> (target column -> SQL, the model's new row);
#: the star form (``None``) takes the whole source row
MERGE_SETS = {
    "src_val": ({"{v}": "source.{v}"}, lambda t, s: (t[0], t[1], s[2], t[3])),
    "src_ts_val": ({"ts": "source.ts", "{v}": "source.{v}"}, lambda t, s: (s[0], t[1], s[2], t[3])),
    "bump": ({"{v}": "target.{v} + 1000"}, lambda t, s: (t[0], t[1], t[2] + 1000, t[3])),
    # INSERT (cols) VALUES (...), columns in a different order than the table
    "values": (
        {"uuid": "source.uuid", "part": "'pb'", "{v}": "source.{v} + 0.5", "ts": "source.ts"},
        lambda t, s: (s[0], s[1], s[2] + 0.5, "pb"),
    ),
}
#: (when, action) -> (assignment choices, condition choices)
MERGE_SHAPES = {
    ("matched", "update"): ([None, "src_val", "src_ts_val", "bump"], [None, "src_big", "src_newer", "tgt_pa"]),
    ("matched", "delete"): ([None], [None, "src_big", "src_newer", "tgt_pa"]),
    ("not_matched", "insert"): ([None, "values"], [None, "src_big", "src_pb"]),
    ("not_matched_by_source", "update"): (["bump"], [None, "tgt_big", "tgt_pa"]),
    ("not_matched_by_source", "delete"): ([None], [None, "tgt_big", "tgt_pa"]),
}


@dataclass(frozen=True)
class Clause:
    """One drawn MERGE clause; ``sets``/``cond`` name MERGE_SETS/MERGE_CONDS."""

    when: str
    action: str
    sets: str | None
    cond: str | None

    def merge_clause(self, v: str) -> MergeClause:
        sets = None
        if self.sets:
            sets = {c.format(v=v): e.format(v=v) for c, e in MERGE_SETS[self.sets][0].items()}
        cond = MERGE_CONDS[self.cond][0].format(v=v) if self.cond else None
        return MergeClause(self.when, self.action, sets, cond)

    def sql(self, v: str) -> str:
        c = self.merge_clause(v)
        head = {
            "matched": "WHEN MATCHED",
            "not_matched": "WHEN NOT MATCHED",
            "not_matched_by_source": "WHEN NOT MATCHED BY SOURCE",
        }[self.when] + (f" AND {c.condition}" if c.condition else "")
        if c.action == "delete":
            act = "DELETE"
        elif c.assignments is None:
            act = "UPDATE SET *" if c.action == "update" else "INSERT *"
        elif c.action == "update":
            act = "UPDATE SET " + ", ".join(f"{k} = {e}" for k, e in c.assignments.items())
        else:
            act = f"INSERT ({', '.join(c.assignments)}) VALUES ({', '.join(c.assignments.values())})"
        return f"{head} THEN {act}"


clause_st = st.sampled_from(sorted(MERGE_SHAPES)).flatmap(
    lambda wa: st.builds(
        Clause,
        st.just(wa[0]),
        st.just(wa[1]),
        st.sampled_from(MERGE_SHAPES[wa][0]),
        st.sampled_from(MERGE_SHAPES[wa][1]),
    )
)
merge_op_st = st.builds(
    Op,
    st.just("merge_clauses"),
    st.lists(row_st, min_size=1, max_size=3),
    st.lists(clause_st, min_size=1, max_size=4).map(tuple),
    st.booleans(),
)


op_st = st.one_of(
    st.builds(Op, st.just("upsert"), st.lists(row_st, min_size=1, max_size=4)),
    st.builds(Op, st.just("insert"), st.lists(row_st, min_size=1, max_size=3)),
    st.builds(Op, st.just("delete"), st.lists(row_st, min_size=1, max_size=2)),
    st.builds(Op, st.just("overwrite"), st.lists(row_st, min_size=1, max_size=3)),
    st.builds(Op, st.just("rollback"), st.just([])),
    st.builds(Op, st.just("compact"), st.just([])),
    st.builds(Op, st.just("log_compact"), st.just([])),
    st.builds(Op, st.just("sched_compact"), st.just([])),
    st.builds(Op, st.just("sched_cluster"), st.just([])),
    merge_op_st,
    st.builds(Op, st.just("update_where"), st.just([])),
    st.builds(Op, st.just("cluster_sort"), st.just([])),
    st.builds(Op, st.just("rename_val"), st.just([])),
    st.builds(Op, st.just("savepoint"), st.just([])),
    st.builds(Op, st.just("restore"), st.just([])),
    st.builds(Op, st.just("archive"), st.just([])),
    st.builds(Op, st.just("clean"), st.just([])),
    st.builds(Op, st.just("split"), st.just([])),
    st.builds(Op, st.just("drop_part"), st.just([])),
)


def _sql_clauses(clauses):
    """The clause list in the form Spark's grammar accepts: grouped by kind
    in matched, not matched, not matched by source order (a row only meets
    the clauses of its own kind, so grouping changes nothing), without the
    unreachable clauses after an unconditional one of the same kind."""
    order = ["matched", "not_matched", "not_matched_by_source"]
    out, closed = [], set()
    for c in sorted(clauses, key=lambda c: order.index(c.when)):
        if c.when not in closed:
            out.append(c)
            if c.cond is None:
                closed.add(c.when)
    return out


def _key_unique(rows):
    """One row per key: max ts wins, later occurrence breaks ts ties."""
    best = {}
    for r in rows:
        if r[1] not in best or r[0] >= best[r[1]][0]:
            best[r[1]] = r
    return list(best.values())


class Model:
    def __init__(self):
        self.state: dict[str, tuple] = {}
        self.history: list[dict[str, tuple]] = []

    def _snapshot(self):
        self.history.append(dict(self.state))

    def apply_rows(self, rows):
        """Latest-wins vs current state: incoming wins when ts >= current ts
        (newer commit breaks the tie)."""
        for ts, uuid, val, part in rows:
            cur = self.state.get(uuid)
            if cur is None or ts >= cur[0]:
                self.state[uuid] = (ts, uuid, val, part)

    def upsert(self, rows):
        self._snapshot()
        self.apply_rows(rows)

    def delete(self, rows):
        self._snapshot()
        for _ts, uuid, _val, _part in rows:
            self.state.pop(uuid, None)

    def overwrite(self, rows):
        self._snapshot()
        self.state = {}
        self.apply_rows(rows)

    def rollback(self):
        if self.history:
            self.state = self.history.pop()

    def merge_clauses(self, rows, clauses):
        """SQL MERGE: every key takes the first clause of its kind (matched,
        not matched, not matched by source) whose condition holds, and a key
        no clause takes stays as it is. Updates are subject to precombine
        (an older ts loses, exactly as the engine's upsert merge resolves
        it); inserts are new keys."""
        self._snapshot()
        src = {r[1]: r for r in rows}
        for k in sorted(set(self.state) | set(src)):
            t, s = self.state.get(k), src.get(k)
            when = "matched" if t and s else "not_matched" if s else "not_matched_by_source"
            for c in clauses:
                if c.when != when or (c.cond and not MERGE_CONDS[c.cond][1](t, s)):
                    continue
                if c.action == "delete":
                    del self.state[k]
                else:
                    new = MERGE_SETS[c.sets][1](t, s) if c.sets else s
                    if t is None or new[0] >= t[0]:
                        self.state[k] = new
                break

    def update_where(self, threshold: float, bump: float):
        self._snapshot()
        for uuid, (ts, _u, val, part) in list(self.state.items()):
            if val >= threshold:
                self.state[uuid] = (ts, uuid, val + bump, part)

    def drop_part(self, part: str):
        self._snapshot()
        self.state = {u: r for u, r in self.state.items() if r[3] != part}

    def rows(self):
        return sorted(self.state.values())


def apply_ops(spark, tbl: Table, model: Model, ops: list[Op]):
    """Drive both systems; returns (instant, state) checkpoints for the
    time-travel invariant (engine ``read(as_of=instant)`` must reproduce the
    model state right after that op; rollback discards its checkpoint)."""

    def df(rows):
        # DELIBERATELY the original schema (val), even after rename_val ops:
        # conforming writes (upsert/insert/overwrite) must map the historical
        # name onto the current column — the stale-writer path under stress
        return spark.createDataFrame(rows, SCHEMA)

    def vname() -> str:
        """Current logical name of the val column (rename chain tip)."""
        return [c for c in tbl.data_cols if c not in ("ts", "uuid", "part")][0]

    checkpoints: list[tuple[str, dict]] = []
    engine: list = [None]  # SQL front door over tbl, made on first use
    saved: list = [None]  # latest savepoint: (instant, history_len, state, ckpt_len)

    def ckpt():
        checkpoints.append((tbl.latest_instant(), dict(model.state)))

    for op in ops:
        if op.kind == "upsert":
            rows = _key_unique(op.rows)
            tbl.upsert(df(rows))
            model.upsert(rows)
            ckpt()
        elif op.kind == "insert":
            rows = _key_unique(op.rows)
            tbl.insert(df(rows))
            model.upsert(rows)  # keyed read is latest-wins even over appends
            ckpt()
        elif op.kind == "delete":
            tbl.delete(df(op.rows).select("uuid").distinct())
            model.delete(op.rows)
            ckpt()
        elif op.kind == "overwrite":
            rows = _key_unique(op.rows)
            tbl.insert_overwrite(df(rows))
            model.overwrite(rows)
            ckpt()
        elif op.kind == "merge_clauses":
            rows = _key_unique(op.rows)
            v = vname()
            # MERGE addresses the CURRENT schema (its assignments and stars
            # name target columns), so the source uses the renamed column
            src = spark.createDataFrame(
                rows, f"ts BIGINT, uuid STRING, {v} DOUBLE, part STRING"
            )
            if op.via_sql:
                if engine[0] is None:
                    engine[0] = Engine(spark, os.path.join(os.path.dirname(tbl.base), "wh"))
                    engine[0].register("t", tbl)
                src.createOrReplaceTempView("merge_src")
                engine[0].sql(
                    "MERGE INTO t AS target USING merge_src AS source "
                    "ON target.uuid = source.uuid "
                    + " ".join(c.sql(v) for c in _sql_clauses(op.clauses))
                )
            else:
                tbl.merge(src, on={"uuid": "uuid"}, clauses=[c.merge_clause(v) for c in op.clauses])
            model.merge_clauses(rows, op.clauses)
            ckpt()
        elif op.kind == "update_where":
            v = vname()
            tbl.update_where(f"{v} >= 500.0", {v: f"{v} + 1000.0"})
            model.update_where(500.0, 1000.0)
            ckpt()
        elif op.kind == "rollback":
            if tbl.latest_instant() is not None:
                tbl.rollback()
                model.rollback()
                if checkpoints:
                    checkpoints.pop()
        elif op.kind == "compact":
            inst = tbl.compact()
            if inst is not None:
                model._snapshot()  # compaction commits a view-preserving snapshot
                ckpt()
        elif op.kind == "log_compact":
            # stitch small logs, no base rewrite: view-preserving deltacommit
            inst = tbl.compact_logs(min_logs_per_partition=2)
            if inst is not None:
                model._snapshot()
                ckpt()
        elif op.kind == "sched_compact":
            # async split: plan now, execute immediately after (the plan
            # instant itself is not a data commit — rollback ignores it).
            # run_compaction may execute an OLDER pending plan or discard a
            # voided one; either way the view is preserved.
            tbl.schedule_compaction()
            inst = tbl.run_compaction()
            if inst is not None:
                model._snapshot()
                ckpt()
        elif op.kind == "sched_cluster":
            if tbl.latest_instant() is not None and not tbl.config.bucket_ranges:
                tbl.schedule_clustering(["ts", "uuid"], n_files=4)
                inst = tbl.run_clustering()
                if inst is not None:
                    model._snapshot()
                    ckpt()
        elif op.kind == "cluster_sort":
            if tbl.latest_instant() is not None and not tbl.config.bucket_ranges:
                inst = tbl.cluster_sort(["ts", "uuid"], n_files=4)
                if inst is not None:  # fully in layout → no-op, no commit
                    model._snapshot()  # view-preserving rewrite, like compaction
                    ckpt()
        elif op.kind == "rename_val":
            # metadata-only rename of the one non-protected column; chains
            # naturally (val → val_r → val_r_r). No commit, no checkpoint —
            # the MODEL is untouched because comparisons are positional and
            # reads must coalesce every historical generation losslessly.
            tbl.rename_column(vname(), vname() + "_r")
        elif op.kind == "savepoint":
            if tbl.latest_instant() is not None:
                sp = tbl.savepoint()
                saved[0] = (sp, len(model.history), dict(model.state), len(checkpoints))
        elif op.kind == "restore":
            if saved[0] is not None and saved[0][0] in tbl.savepoints():
                sp, hlen, state, clen = saved[0]
                tbl.restore_to_savepoint(sp)
                model.history = model.history[:hlen]
                model.state = dict(state)
                del checkpoints[clen:]
        elif op.kind == "archive":
            # model state untouched (archival is metadata folding); checkpoints
            # before the boundary can no longer serve time travel, by contract
            if tbl.archive_timeline(retain_instants=3):
                boundary = tbl.timeline.checkpoint()["boundary"]
                checkpoints[:] = [c for c in checkpoints if c[0] and c[0] >= boundary]
        elif op.kind == "clean":
            insts = tbl.timeline.completed_data_instants()
            if len(insts) > 2:
                cutoff = insts[-2].instant
                tbl.clean(retain_commits=2)
                # snapshots inside the retained window must SURVIVE cleaning —
                # only pre-window checkpoints are forfeited
                checkpoints[:] = [c for c in checkpoints if c[0] and c[0] >= cutoff]
        elif op.kind == "split":
            if tbl.config.bucket_ranges and tbl.latest_instant() is not None:
                before_n = len(tbl.timeline.completed_data_instants())
                inst = tbl.maybe_split_buckets(split_threshold_bytes=1, max_buckets=8)
                if inst is not None:
                    # MOR may auto-compact before splitting: one model
                    # snapshot per engine data commit keeps rollback parity
                    for _ in range(len(tbl.timeline.completed_data_instants()) - before_n):
                        model._snapshot()
                    ckpt()
        elif op.kind == "drop_part":
            before_n = len(tbl.timeline.completed_data_instants())
            try:
                tbl.delete_partition({"part": PARTS[0]})
                dropped = True
            except ValueError:
                dropped = False  # no live files in the partition — no commit
            n_new = len(tbl.timeline.completed_data_instants()) - before_n
            # MOR auto-compacts pending logs first (cross-partition move
            # chains): one view-preserving model snapshot per extra commit
            for _ in range(n_new - (1 if dropped else 0)):
                model._snapshot()
            if dropped:
                model.drop_part(PARTS[0])
                ckpt()
            elif n_new:
                ckpt()  # compaction alone committed; the view is unchanged
    return checkpoints


def _check_against_model(tbl: Table, model: Model, checkpoints: list, ops: list[Op]) -> None:
    # positional tuples: rename_val may change the val column's NAME, but
    # field order is stable, so tuples line up with the model regardless
    cols = tbl.data_cols
    got = sorted(tuple(r) for r in tbl.read().select(*cols).collect())
    assert got == model.rows(), f"ops={ops}\nengine={got}\nmodel={model.rows()}"
    # time-travel invariant: read(as_of=instant_i) reproduces the model state
    # right after op i (sample first/middle/last to bound test cost)
    sample = {0, len(checkpoints) // 2, len(checkpoints) - 1} if checkpoints else set()
    for i in sorted(sample):
        instant, state = checkpoints[i]
        tt = sorted(tuple(r) for r in tbl.read(as_of=instant).select(*cols).collect())
        expect = sorted(state.values())
        assert tt == expect, (
            f"time-travel divergence at ckpt {i} (instant {instant}):\n"
            f"ops={ops}\nengine={tt}\nmodel={expect}"
        )


@settings(
    # PROP_EXAMPLES=60 for soak runs; 10 keeps the default suite fast
    max_examples=int(os.environ.get("PROP_EXAMPLES", "10")),
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(ops=st.lists(op_st, min_size=1, max_size=6))
@pytest.mark.parametrize("table_type", ["cow", "mor", "cow_ranges", "mor_ranges", "cow_rli"])
def test_random_dml_sequences_match_model(spark, tmp_path_factory, ops, table_type):
    tmp_path = tmp_path_factory.mktemp(f"prop_{table_type}")
    cfg = dict(record_key=["uuid"], precombine="ts", partition_by=["part"])
    if table_type.endswith("_ranges"):
        cfg.update(table_type=table_type.split("_")[0], bucket_ranges=[0])
    elif table_type == "cow_rli":
        # record-level index active through the WHOLE random sequence: every
        # write/compaction/clustering maintains (key → file) pairs, rollbacks
        # invalidate, and the end-state equivalence below proves the index
        # (rebuilt if a rollback invalidated it) answers exactly like a scan
        cfg.update(table_type="cow")
    else:
        cfg.update(table_type=table_type)
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, TableConfig(**cfg))
    if table_type == "cow_rli":
        tbl.create_record_index()
    model = Model()
    checkpoints = apply_ops(spark, tbl, model, ops)
    _check_against_model(tbl, model, checkpoints, ops)
    if table_type == "cow_rli":
        # index equivalence after whatever the sequence did: re-certify if a
        # rollback invalidated it, then point reads must equal filtered scans
        t2 = Table(spark, tbl.base)
        if not (t2._index_meta("record_index") or {}).get("valid", True):
            t2.rebuild_index("record_index")
        from pyspark.sql import functions as F

        cols = tbl.data_cols
        for k in KEYS[:3]:
            via_idx = sorted(tuple(r) for r in t2.lookup_key(k).select(*cols).collect())
            via_scan = sorted(
                tuple(r)
                for r in t2.read().filter(F.col(cols[1]) == k).select(*cols).collect()
            )
            assert via_idx == via_scan, f"RLI divergence for {k}: ops={ops}"


@settings(
    max_examples=int(os.environ.get("PROP_EXAMPLES", "10")),
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    ops=st.lists(
        st.one_of(
            st.builds(Op, st.just("upsert"), st.lists(row_st, min_size=2, max_size=5)),
            merge_op_st,
        ),
        min_size=2,
        max_size=4,
    )
)
@pytest.mark.parametrize("partition_by", [["part"], []], ids=["partitioned", "flat"])
@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_random_merge_clauses_match_model(spark, tmp_path_factory, ops, table_type, partition_by):
    """MERGE-heavy sequences: random clause lists through Table.merge and
    the SQL front door against the model, partitioned and not."""
    tmp_path = tmp_path_factory.mktemp(f"merge_{table_type}")
    cfg = TableConfig(
        record_key=["uuid"], precombine="ts", partition_by=partition_by, table_type=table_type
    )
    tbl = Table.create(spark, str(tmp_path / "t"), SCHEMA, cfg)
    model = Model()
    _check_against_model(tbl, model, apply_ops(spark, tbl, model, ops), ops)
