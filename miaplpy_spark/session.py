"""SparkSession factory with the engine's tuned configuration.

Tuning rationale (SURVEY.md §4):
- AQE on: runtime partition coalescing + skew-join splitting replaces
  the reference's hand-rolled memory-bounded box splitting
  (dev/ifgram_inversion_L1L2.py:792-824).
- Arrow enabled + bounded batch size: the rollup kernels are Arrow
  pandas UDFs; maxRecordsPerBatch bounds per-batch memory exactly like
  the reference's chunked aggregation (P5).
- Driver-held rows (checkpoint logs, watermarks, union-find labels,
  index parameters) enter as Arrow ``LocalTableScan`` relations via
  ``local_frame``: a Python-list ``createDataFrame`` plans as ``Scan
  ExistingRDD`` over a PythonRDD and boots a Python worker pool just
  to move a handful of rows.
- OMP_NUM_THREADS=1 in executor env: 1 BLAS thread x many tasks beats
  the opposite — the reference measured this (P9,
  dev/ifgram_inversion_L1L2.py:1432-1449). On a real cluster, set via
  spark.executorEnv.OMP_NUM_THREADS; in local mode we set os.environ
  before NumPy spins up worker threads.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

# Must happen before worker NumPy imports; harmless if already set.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def get_spark(
    app_name: str = "miaplpy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 8192,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the engine session.

    ``master`` defaults to ``local[N]`` from $SPARK_GRAFT_CPUS (32).
    ``shuffle_partitions`` defaults to 2x cores — enough granularity
    for AQE to coalesce, small enough to avoid tiny-task overhead at
    sandbox scale. On a 1000-executor cluster this is instead sized to
    ~2-3x total cores via the same parameter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    ncores = cpus if master == "local[*]" else _master_cores(master, cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _master_cores(master: str, default: int) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner != "*":
            try:
                return int(inner)
            except ValueError:
                pass
    return default


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """DataFrame over driver-held ``rows`` (tuples in ``ddl`` column
    order) as an Arrow ``LocalTableScan``: the rows travel to the JVM
    as one Arrow stream and no Python worker ever starts. Values and
    types equal ``spark.createDataFrame(rows, ddl)``; naive datetimes
    are read as local wall time, the rule ``TimestampType`` applies."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, TimestampType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema)
    arrays = [pa.array([_as_utc(v) for v in col]
                       if isinstance(f.dataType, TimestampType) else col,
                       type=a.type)
              for f, a, col in zip(schema, arrow, cols)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow),
                                 schema)


def _as_utc(v):
    if isinstance(v, datetime) and v.tzinfo is None:
        return v.astimezone(timezone.utc)
    return v
