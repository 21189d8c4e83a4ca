"""Async table services: the scheduler that runs maintenance NEXT TO writers.

Parity: Hudi ships its table services two ways — inline (DeltaStreamer's
``--continuous`` mode compacts/cleans between ingest batches,
``DeltaStreamerExample.scala:52-65``) and async (the standalone
HoodieCompactor / HoodieCleaner / clustering jobs a scheduler invokes per
table per cadence, ``clusteringjob.properties``). The inline half lives in
:func:`hudi_examples_spark.streaming.sinks.make_batch_handler`
(``compact_every``); this module is the async half.

Spark-first shape: a daemon thread invoking :meth:`Table.run_services` on a
cadence, on the host's own session — the engine writes no SQL conf on it
(its static queries run on private clones), so passes see the host's runtime
conf and leave it as they found it. Every pass opens a FRESH ``Table``
handle (each pass plans against the latest published timeline — never a
stale snapshot), and every pass is best-effort: services tolerate losing
OCC races to concurrent writers and a failing pass is recorded, never
raised into the host (a maintenance daemon must not take down the ingest
process it rides in). Safe against live
writers by construction — ``run_services`` age-gates heal and publishes
every rewrite through the same OCC path writers use (proven cross-process
in ``tests/test_services_soak.py``; the in-process cadence is proven in
``tests/test_service_scheduler.py``).

At 100 TB the same loop runs unchanged: each pass is O(maintenance) —
timeline reads, parquet footers, and rewrites scoped to the file groups a
service actually touches — so cadence cost does not grow with table size,
only with churn.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession

from hudi_examples_spark.table.core import Table


class ServiceScheduler:
    """Run ``Table.run_services`` on a fixed cadence in a daemon thread.

    >>> sched = ServiceScheduler(spark, table.base, interval_seconds=60,
    ...                          compact_after=5, clean_retain=10)
    >>> sched.start()
    ... # writers keep committing; services run alongside
    >>> reports = sched.stop()

    Or scoped to a block (stops on exit, even on error)::

        with ServiceScheduler(spark, table.base, interval_seconds=1) as sched:
            ingest_lots(table)
        assert sched.errors == []

    ``policy`` kwargs pass straight through to :meth:`Table.run_services`
    (``compact_after``, ``clean_retain``, ``archive_retain``,
    ``index_bloat_ratio``, ``split_threshold_bytes``).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: str,
        interval_seconds: float = 60.0,
        max_passes: int | None = None,
        **policy,
    ) -> None:
        self.spark = spark
        self.base = base
        self.interval_seconds = float(interval_seconds)
        self.max_passes = max_passes
        self.policy = policy
        self.reports: list[dict] = []
        self.errors: list[BaseException] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    # -- one pass (also the deterministic test entry point) -----------------
    def run_once(self) -> dict | None:
        """One maintenance pass against the CURRENT timeline. Errors are
        recorded in ``self.errors`` and swallowed — a maintenance daemon
        never crashes its host process."""
        try:
            report = Table(self.spark, self.base).run_services(**self.policy)
        except BaseException as exc:  # noqa: BLE001 — daemon must survive anything
            self.errors.append(exc)
            return None
        self.reports.append(report)
        return report

    # -- lifecycle -----------------------------------------------------------
    def start(self) -> "ServiceScheduler":
        if self._thread is not None:
            raise RuntimeError("scheduler already started")
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._loop, name=f"table-services:{self.base}", daemon=True
        )
        self._thread.start()
        return self

    def stop(self, timeout: float | None = 300.0) -> list[dict]:
        """Signal the loop, wait for any in-flight pass to finish, return the
        per-pass reports. Idempotent."""
        self._stop.set()
        t = self._thread
        if t is not None:
            t.join(timeout=timeout)
            if t.is_alive():
                raise TimeoutError("service pass did not finish within timeout")
            self._thread = None
        return self.reports

    def _loop(self) -> None:
        passes = 0
        # wait-first cadence: the table was just written by whoever started
        # us — there is nothing to maintain at t=0.
        while not self._stop.wait(self.interval_seconds):
            self.run_once()
            passes += 1
            if self.max_passes is not None and passes >= self.max_passes:
                return

    def __enter__(self) -> "ServiceScheduler":
        return self.start()

    def __exit__(self, *exc_info) -> None:
        self.stop()
