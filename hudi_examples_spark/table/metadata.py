"""Queryable metadata-table reads — Hudi 1.0's ``hudi_metadata()`` TVF.

Hudi maintains an internal metadata table with partitions ``files``,
``column_stats``, ``bloom_filters``, ``record_index`` (readable via
``SELECT * FROM hudi_metadata('<table>')`` and the MDT readers; reference
config surface: ``hoodie.metadata.enable`` in
``/root/reference/spark/src/main/scala/com/hudi/spark/DeltaStreamerExample.scala``
and the Glue jobs' metadata listing toggle). This engine keeps the same
information in its manifest + sidecars:

- timeline manifest            → ``files`` / ``partitions``
- ``_stats/`` footer sidecars  → ``column_stats``
- ``_blooms/`` sidecars        → ``bloom_filters``
- ``_record_index/`` dataset   → ``record_index``

``metadata_df`` renders each as a DataFrame with a stable schema so users
can query table internals with plain SQL, exactly like Hudi's TVF.

Scale stance: every partition except ``record_index`` is built from
driver-side metadata that is already O(live files) — the same manifest every
planner pass loads; no data file is opened beyond its parquet FOOTER (row
counts), and footer reads fan out on a thread pool like ``_write_file_stats``.
``record_index`` is the one genuinely row-scale partition, and it returns the
distributed read of the index dataset itself — never a collect.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

METADATA_PARTITIONS = (
    "files",
    "partitions",
    "column_stats",
    "partition_stats",
    "bloom_filters",
    "record_index",
    "timeline",
)

_FILES_SCHEMA = (
    "partition STRING, file_name STRING, instant STRING, action STRING, "
    "file_size_bytes BIGINT, num_rows BIGINT"
)


def _files_rows(tbl) -> list[tuple]:
    files, _ = tbl.timeline.live_files()
    import pyarrow.parquet as pq

    def one(item):
        rel, (instant, action) = item
        path = os.path.join(tbl.base, rel)
        try:
            size = os.stat(path).st_size
            nrows = pq.ParquetFile(path).metadata.num_rows
        except OSError:
            size, nrows = -1, -1  # raced with clean(); still listed
        return (tbl._partition_path_of(rel), rel, instant, action, size, nrows)

    items = sorted(files.items())
    if not items:
        return []
    with ThreadPoolExecutor(max_workers=min(16, len(items))) as ex:
        return list(ex.map(one, items))


def metadata_df(tbl, part: str) -> DataFrame:
    """One metadata partition of ``tbl`` as a DataFrame (see module doc)."""
    spark = tbl.spark
    if part == "files":
        return spark.createDataFrame(_files_rows(tbl), _FILES_SCHEMA).orderBy(
            "partition", "file_name"
        )
    if part == "partitions":
        from pyspark.sql import functions as F

        f = spark.createDataFrame(_files_rows(tbl), _FILES_SCHEMA)
        return (
            f.groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("file_size_bytes").alias("total_bytes"),
                F.sum("num_rows").alias("num_rows"),
            )
            .orderBy("partition")
        )
    if part == "column_stats":
        files, _ = tbl.timeline.live_files()
        stats = tbl._load_file_stats()
        rows = [
            (rel, col, str(mm[0]), str(mm[1]))
            for rel in sorted(files)
            if rel in stats
            for col, mm in sorted(stats[rel].items())
        ]
        return spark.createDataFrame(
            rows, "file_name STRING, col_name STRING, min_value STRING, max_value STRING"
        )
    if part == "partition_stats":
        # Hudi 1.0 PARTITION_STATS metadata partition: the per-partition
        # column envelopes scan-planning consults before any file stats
        pstats = tbl._load_partition_stats()
        rows = [
            (part_path, col, str(mm[0]), str(mm[1]))
            for part_path in sorted(pstats)
            for col, mm in sorted(pstats[part_path].items())
        ]
        return spark.createDataFrame(
            rows,
            "partition STRING, col_name STRING, min_value STRING, max_value STRING",
        )
    if part == "bloom_filters":
        files, _ = tbl.timeline.live_files()
        blooms = tbl._load_blooms()
        rows = [
            (rel, int(blooms[rel]["m"]), int(blooms[rel]["k"]), int(blooms[rel]["n"]))
            for rel in sorted(files)
            if rel in blooms
        ]
        return spark.createDataFrame(
            rows, "file_name STRING, num_bits BIGINT, num_hashes BIGINT, num_keys BIGINT"
        )
    if part == "record_index":
        meta = tbl._index_meta(tbl.RECORD_INDEX)
        if meta is None:
            raise ValueError(
                "record_index metadata partition requires the record-level "
                "index: CALL create_record_index / Table.create_record_index()"
            )
        if not meta["valid"]:
            raise ValueError(
                "record index is invalidated (rollback resurrected unindexed "
                "files) — rebuild via run_services()/rebuild_index('record_index')"
            )
        live = set(tbl.timeline.live_files()[0])
        from pyspark.sql import functions as F

        df = tbl._read_index_entries(tbl.RECORD_INDEX, meta).select(
            F.col("key").alias("record_key"), F.col("rel").alias("file_name")
        )
        # same live-intersection the probe applies: the index is a complete
        # SUPERSET; only mappings into live files are current locations.
        live_df = spark.createDataFrame([(r,) for r in sorted(live)], "file_name STRING")
        return df.join(F.broadcast(live_df), "file_name").select(
            "record_key", "file_name"
        )
    if part == "timeline":
        rows = [
            (
                i.instant,
                i.action,
                i.meta.get("operation", ""),
                len(i.files_added),
                len(i.files_removed),
            )
            for i in tbl.timeline.instants()
        ]
        return spark.createDataFrame(
            rows,
            "instant STRING, action STRING, operation STRING, "
            "n_files_added INT, n_files_removed INT",
        ).orderBy("instant")
    raise ValueError(
        f"unknown metadata partition {part!r}; one of {METADATA_PARTITIONS}"
    )
