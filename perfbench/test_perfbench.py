"""Tests for the benchmark itself (not for the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests share one Spark session and shrink every workload to a tiny
size, so the whole file runs in a couple of minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, workloads  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.stats import tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_spec_matches_code():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert SPEC["paths"] == ["perfbench"]


def test_analytics_set_is_the_v1_headline_without_table_lifecycles():
    import bench

    assert workloads.ANALYTICS_QUERIES == [n for n in bench.HEADLINE if not n.startswith("tbl_")]


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    v, pct, n = tail(xs)
    assert (v, pct, n) == (90, 90, 100)
    assert sum(1 for x in xs if x > v) == 10
    # too few samples for a tail above the median: the median rank is used
    assert tail([3, 1, 2]) == (2, 66, 3)


def test_inputs_depend_only_on_the_seed(tmp_path):
    a, b = datagen.KeyedRows(7, 100), datagen.KeyedRows(7, 100)
    a.preload(300)
    b.preload(300)
    assert a.cdc_batch(1, 100, 10, 2) == b.cdc_batch(1, 100, 10, 2)
    assert a.merge_batch(2, 10, 30) == b.merge_batch(2, 10, 30)
    assert a.model == b.model
    datagen.write_analytics_tables(str(tmp_path / "x"), 3, 0.001)
    datagen.write_analytics_tables(str(tmp_path / "y"), 3, 0.001)
    for name in ("lineitem", "documents", "embeddings"):
        assert (tmp_path / "x" / f"{name}.parquet").read_bytes() == (
            tmp_path / "y" / f"{name}.parquet"
        ).read_bytes()


def test_table_hash_is_order_independent():
    rows = [("k1", 1, "d", 2, 3.5, "n"), ("k2", 2, "d", 4, 1.25, "m")]
    assert datagen.table_hash(rows) == datagen.table_hash(reversed(rows))
    assert datagen.table_hash(rows) != datagen.table_hash(rows[:1] + [("k2", 2, "d", 4, 1.26, "m")])


def test_exits_without_a_result_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_cow", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout == ""


# ---------------------------------------------------------------- smoke runs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    session = run.start_session(work, len(os.sched_getaffinity(0)))
    yield session
    run.stop_session(session)


@pytest.fixture
def tiny(monkeypatch):
    for cls in (workloads.IngestCow, workloads.MorMixed):
        monkeypatch.setattr(cls, "PRELOAD", 300)
        monkeypatch.setattr(cls, "KEYS_PER_DAY", 100)
    monkeypatch.setattr(workloads.IngestCow, "INSERTS", 100)
    monkeypatch.setattr(workloads.IngestCow, "UPDATES", 10)
    monkeypatch.setattr(workloads.IngestCow, "DELETES", 2)
    monkeypatch.setattr(workloads.MorMixed, "MATCHED", 10)
    monkeypatch.setattr(workloads.MorMixed, "NEW", 30)
    monkeypatch.setattr(workloads.Analytics, "SF", 0.001)


def _measure(spark, tmp_path, workload: str, trace: int, seconds: float = 1.0):
    args = run.parse_args(
        ["--workload", workload, "--seed", "5", "--seconds", str(seconds), "--trace", str(trace)]
    )
    return run.measure(spark, str(tmp_path), args, session_s=1.0, nproc=2)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_workload_prints_every_metric_with_its_unit(spark, tiny, tmp_path, workload):
    for trace, listed in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
        record, result = _measure(spark, tmp_path / str(trace), workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"], record["errors"]
        assert result["failed"] == 0 and result["attempted"] >= 1
        assert record["op_fail_ratio"] == 0.0
        assert {k: v["unit"] for k, v in result["metrics"].items()} == {
            m["name"]: m["unit"] for m in listed
        }
        json.dumps(result)  # one JSON line
        if workload == "ingest_cow" and trace:
            # set-up fills the retention window, so every measured clean deletes
            assert result["metrics"]["services.clean_files_deleted"]["value"] > 0


def test_traced_spans_nest_and_self_times_are_not_negative(spark, tiny, tmp_path, monkeypatch):
    from perfbench import layers

    seen = {}
    orig = layers.per_layer

    def keep(tr, ctx):
        seen["tracer"] = tr
        return orig(tr, ctx)

    monkeypatch.setattr(layers, "per_layer", keep)
    _measure(spark, tmp_path, "mor_mixed", 1, seconds=3.0)
    tr = seen["tracer"]
    by_id = {s.id: s for s in tr.spans}
    assert any(s.name == "table.write" for s in tr.spans)
    for s in tr.spans:
        assert s.t1 >= s.t0
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.t0 <= s.t0 and s.t1 <= p.t1, (p.name, s.name)
            if s.job_lo is not None and p.job_lo is not None:
                assert p.job_lo <= s.job_lo <= s.job_hi <= p.job_hi
        assert tr.self_time(s) >= 0.0, s.name
        assert 0.0 <= tr.driver_time(s) <= s.dur + 1e-9


def test_a_wrong_expected_hash_counts_as_a_failure(spark, tiny, tmp_path, monkeypatch):
    orig = workloads.KeyedTableWorkload.check_final

    def planted(self):
        key = next(iter(self.gen.model))
        row = self.gen.model[key]
        self.gen.model[key] = row[:3] + (row[3] + 1,) + row[4:]
        orig(self)

    monkeypatch.setattr(workloads.KeyedTableWorkload, "check_final", planted)
    record, result = _measure(spark, tmp_path, "ingest_cow", 0)
    assert result["failed"] == 1 and not result["correct"]
    assert record["op_fail_ratio"] > 0.0
