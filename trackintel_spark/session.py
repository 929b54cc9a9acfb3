"""SparkSession helpers with scale-oriented defaults.

Defaults chosen for a 100 TB-class deployment, testable on local[*]:

* AQE on (runtime partition coalescing + skew-join splitting);
* Arrow on (all Python kernels are Arrow-batched pandas UDFs);
* UTC session timezone (the reference requires tz-aware timestamps
  everywhere, model/positionfixes.py:64-66 — we normalize to UTC);
* shuffle partitions sized via env so tests (small) and clusters
  (large) pick sensible values without code changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trackintel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide.
    Locally, ``SPARK_GRAFT_CPUS`` (default: all cores) sizes local[N].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata parquet carries TIMESTAMP(NANOS) which the Spark
        # reader rejects; read as long and convert (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # micros-NTZ testdata era: read as plain `timestamp` so numeric
        # casts in the operators resolve (sources/testdata.py fixups
        # cover sessions we didn't build).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # parquet scan defaults: 128 MiB splits keep partitions memory-safe
        # at high SF while still parallelizing small local files.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
