"""Native keyed/partitioned/multi-version table layer ("lakeview" format).

Re-creates the reference's Hudi table semantics (SURVEY.md §1, §2.8) on plain
partitioned parquet + a JSON timeline — no Hudi jar, no custom file format:

- layout: ``{base}/_props.json`` + ``{base}/_timeline/{instant}.{action}.json``
  + ``{base}/{instant}/{partition=val}/part-*.parquet``
- every read is **manifest-driven** (live files computed from the timeline), which
  gives time travel, incremental reads, rollback healing, and O(1) planning without
  filesystem LIST storms — the exact concern of the reference's S3-call benchmark
  (``glue/S3 Calls benchmarking Code.py``).

API: :class:`hudi_examples_spark.table.core.Table`.
"""

from hudi_examples_spark.table.core import (
    ConcurrentWriteConflict,
    MergeClause,
    Table,
    TableConfig,
)
from hudi_examples_spark.table.services import ServiceScheduler

__all__ = ["ConcurrentWriteConflict", "MergeClause", "ServiceScheduler", "Table", "TableConfig"]
