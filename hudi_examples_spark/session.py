"""SparkSession factory with scale-aware defaults.

The reference launches every job with Kryo serialization + Hudi session extensions
(``spark/scripts/utils.sh:4-8``, ``glue/S3 Calls benchmarking Code.py:25-43``). We have
no JVM extension to load; the equivalents that matter for a PySpark engine are AQE,
Arrow, and sane shuffle sizing.

Scale stance (100 TB): every knob here is either neutral at cluster scale or explicitly
overridable via env/args. ``spark.sql.shuffle.partitions`` defaults to 2x local cores
for tests; on a real cluster AQE coalescing makes the static number mostly irrelevant
as long as it is *high enough*, so production callers should pass ``shuffle_partitions``
~2-3x total executor cores.

The table layer never writes SQL conf on the session it is given, this one or the
driver's plain session alike. Its planning collects and partitioned writes run
statically on a private ``cloneSession()`` (``table/core.py:_engine_session``),
which copies this session's runtime conf and pins only AQE off (and, for
planning, the shuffle width). Plans that still hold a caller's join or
aggregate stay on this session under its AQE. The AQE settings here keep
their meaning for the static rewrite too: its key exchange gets one reducer per
``advisoryPartitionSizeInBytes`` of estimated shuffle data, capped at the
shuffle width set here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hudi-examples-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults are driven by the sandbox env (``SPARK_GRAFT_CPUS``) but every setting
    holds on a multi-executor cluster: AQE handles post-shuffle coalescing and skew
    joins, Arrow accelerates any Pandas-UDF path, UTC session timezone keeps results
    engine-portable (and comparable against the DuckDB oracle).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # parquet predicate pushdown / column pruning are on by default; keep the
        # vectorized reader explicit because the whole engine depends on it.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin BLAS/OpenMP to one thread inside Python workers: the numpy paths
        # (blocked-matmul dedup, multimodal batches) run one task per core, so
        # a multithreaded BLAS oversubscribes CPUs N_tasks × N_blas_threads —
        # measured as 2-3× run-to-run variance on the blocked matmul. One
        # BLAS thread per task is the standard Spark+numpy deployment shape.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
