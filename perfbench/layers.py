"""Per-layer metrics of a traced run, named after the engine's modules.

``per_layer`` turns the tracer's spans, the Spark job and stage metrics and
the workload's tags into one flat ``{name: (value, unit)}`` dict. Every name
in ``PER_LAYER`` is always present: a layer a workload does not exercise
reports 0, which is the prediction for it on that workload.
"""

from __future__ import annotations

import resource

from perfbench.stats import median
from perfbench.workloads import ANALYTICS_QUERIES

READ_KINDS = {"snapshot": "snapshot_read", "incremental": "incremental_read", "point": "point_lookup"}
OP_KINDS = [
    "ingest_cycle", "merge", "snapshot_read", "incremental_read", "point_lookup",
    "compaction", "query",
]

#: (name, unit) of every per-layer metric, in report order
PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("streaming.self_s", "s"),
    ("sql.self_s", "s"),
    ("table.write.s", "s"),
    ("table.write.driver_s", "s"),
    ("table.write.spark_jobs", "count"),
    ("table.write.py4j_calls", "count"),
    ("table.write.input_bytes", "bytes"),
    ("table.write.shuffle_bytes", "bytes"),
    ("table.write.files_written", "count"),
    ("table.write.bytes_written", "bytes"),
    ("table.write.rows_written_per_row_changed", "ratio"),
    *[
        (f"table.read.{k}.{m}", u)
        for k in READ_KINDS
        for m, u in [("plan_s", "s"), ("exec_s", "s"), ("spark_jobs", "count"),
                     ("input_bytes", "bytes"), ("shuffle_bytes", "bytes")]
    ],
    ("table.read.log_files_live", "count"),
    ("timeline.calls_per_op", "count"),
    ("timeline.s_per_op", "s"),
    ("timeline.publish_s", "s"),
    ("timeline.instants_live", "count"),
    ("services.clean_s", "s"),
    ("services.clean_files_deleted", "count"),
    ("services.compact.bytes_rewritten", "bytes"),
    ("services.compact.spark_jobs", "count"),
    *[(f"operators.{q}.{m}", "s") for q in ANALYTICS_QUERIES for m in ("s", "plan_s")],
    ("operators.eager_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.core_busy_ratio", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    *[(f"py4j.calls.{k}", "count") for k in OP_KINDS],
    ("proc.peak_rss_mb", "MB"),
]


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return mb


def _outermost(tr, sp, names: set[str]):
    """Descendant spans of ``sp`` whose name is in ``names`` and that are not
    nested inside another span from ``names``."""
    out, todo = [], list(tr.children(sp))
    while todo:
        s = todo.pop()
        if s.name in names or any(s.name.startswith(n + ".") for n in names):
            out.append(s)
        else:
            todo.extend(tr.children(s))
    return out


def per_layer(tr, ctx: dict) -> dict[str, tuple[float, str]]:
    """``ctx`` carries session_s, warmup_s, loop_s, nproc, instants_live,
    the loop's job range (job_lo, job_hi) and jvm_pid."""
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = ctx["session_s"]
    m["session.warmup_s"] = ctx["warmup_s"]
    op_spans = [s for s in tr.spans if s.name.startswith("op.")]
    by_kind: dict[str, list] = {}
    for s in op_spans:
        by_kind.setdefault(s.name[3:], []).append(s)

    def stage_sum(sp, field: str) -> float:
        return sum(getattr(st, field) for st in tr.span_stages(sp))

    # streaming: the cycle minus its table-write and clean spans
    runs = [c for s in by_kind.get("ingest_cycle", []) for c in tr.children(s)
            if c.name == "streaming.run_once"]
    m["streaming.self_s"] = median(
        r.dur - sum(c.dur for c in tr.children(r) if c.name in ("table.write", "services.clean"))
        for r in runs
    )
    # sql: Engine.sql minus its Table.merge
    sqls = [c for s in by_kind.get("merge", []) for c in tr.children(s) if c.name == "sql"]
    m["sql.self_s"] = median(
        q.dur - sum(c.dur for c in tr.children(q) if c.name == "table.write") for q in sqls
    )

    # table.write: the outermost write call of each writing operation
    writers = by_kind.get("ingest_cycle", []) + by_kind.get("merge", [])
    writes = [w for s in writers for w in _outermost(tr, s, {"table.write"})]
    if writes:
        m["table.write.s"] = median(w.dur for w in writes)
        m["table.write.driver_s"] = median(tr.driver_time(w) for w in writes)
        m["table.write.spark_jobs"] = median(len(tr.span_jobs(w)) for w in writes)
        m["table.write.py4j_calls"] = median(tr.py4j_calls(w) for w in writes)
        m["table.write.input_bytes"] = median(stage_sum(w, "input_bytes") for w in writes)
        m["table.write.shuffle_bytes"] = median(stage_sum(w, "shuffle_write_bytes") for w in writes)
    tagged = [s for s in writers if "rows_written" in s.tags]
    if tagged:
        m["table.write.files_written"] = median(s.tags["files_written"] for s in tagged)
        m["table.write.bytes_written"] = median(s.tags["bytes_written"] for s in tagged)
        m["table.write.rows_written_per_row_changed"] = median(
            s.tags["rows_written"] / max(s.tags["rows_changed"], 1) for s in tagged
        )

    # table.read: the client's own read calls, planning then execution
    for k, kind in READ_KINDS.items():
        spans = by_kind.get(kind, [])
        if not spans:
            continue
        m[f"table.read.{k}.plan_s"] = median(s.tags.get("plan_s", 0.0) for s in spans)
        m[f"table.read.{k}.exec_s"] = median(s.dur - s.tags.get("plan_s", 0.0) for s in spans)
        m[f"table.read.{k}.spark_jobs"] = median(len(tr.span_jobs(s)) for s in spans)
        m[f"table.read.{k}.input_bytes"] = median(stage_sum(s, "input_bytes") for s in spans)
        m[f"table.read.{k}.shuffle_bytes"] = median(stage_sum(s, "shuffle_write_bytes") for s in spans)
    m["table.read.log_files_live"] = median(
        s.tags["log_files_live"] for s in by_kind.get("snapshot_read", []) if "log_files_live" in s.tags
    )

    # timeline: outermost timeline calls made while serving client operations
    tl = [t for s in op_spans for t in _outermost(tr, s, {"timeline"})]
    if op_spans:
        m["timeline.calls_per_op"] = len(tl) / len(op_spans)
        m["timeline.s_per_op"] = sum(t.dur for t in tl) / len(op_spans)
    m["timeline.publish_s"] = median(s.dur for s in tr.spans if s.name == "timeline.write")
    m["timeline.instants_live"] = ctx.get("instants_live", 0)

    # services
    cleans = [s for s in tr.spans if s.name == "services.clean"]
    m["services.clean_s"] = median(s.dur for s in cleans)
    m["services.clean_files_deleted"] = median(s.tags.get("files_deleted", 0) for s in cleans)
    compacts = by_kind.get("compaction", [])
    m["services.compact.bytes_rewritten"] = median(s.tags.get("bytes_rewritten", 0) for s in compacts)
    m["services.compact.spark_jobs"] = median(
        len(tr.span_jobs(s)) for s in tr.spans if s.name == "services.compact"
    )

    # operators
    queries = by_kind.get("query", [])
    for q in ANALYTICS_QUERIES:
        mine = [s for s in queries if s.tags.get("query") == q]
        m[f"operators.{q}.s"] = median(s.dur for s in mine)
        m[f"operators.{q}.plan_s"] = median(s.tags.get("plan_s", 0.0) for s in mine)
    if queries:
        eager = sum(s.tags["plan_jobs_hi"] - s.job_lo for s in queries if "plan_jobs_hi" in s.tags)
        m["operators.eager_jobs"] = eager / (len(queries) / len(ANALYTICS_QUERIES))

    # spark, per client operation over the measured loop
    n_ops = max(len(op_spans), 1)
    loop_jobs = [j for j in range(ctx["job_lo"], ctx["job_hi"]) if j in tr.jobs]
    sids = {sid for j in loop_jobs for sid in tr.jobs[j].stage_ids}
    stages = [tr.stages[s] for s in sids if s in tr.stages]
    run_s = sum(st.run_s for st in stages)
    m["spark.jobs"] = len(loop_jobs) / n_ops
    m["spark.stages"] = len(stages) / n_ops
    m["spark.tasks"] = sum(st.tasks for st in stages) / n_ops
    m["spark.executor_run_s"] = run_s / n_ops
    m["spark.core_busy_ratio"] = run_s / (ctx["loop_s"] * ctx["nproc"]) if ctx["loop_s"] else 0.0
    m["spark.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stages) / n_ops
    m["spark.spill_bytes"] = sum(st.spill_bytes for st in stages) / n_ops
    m["spark.gc_s"] = sum(st.gc_s for st in stages) / n_ops

    for k in OP_KINDS:
        m[f"py4j.calls.{k}"] = median(tr.py4j_calls(s) for s in by_kind.get(k, []))
    m["proc.peak_rss_mb"] = peak_rss_mb(ctx.get("jvm_pid"))
    units = dict(PER_LAYER)
    return {name: (float(m[name]), units[name]) for name, _ in PER_LAYER}
