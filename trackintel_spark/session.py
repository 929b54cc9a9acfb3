"""SparkSession helpers with scale-oriented defaults.

Defaults chosen for a 100 TB-class deployment, testable on local[*]:

* AQE on (runtime partition coalescing + skew-join splitting);
* Arrow on (all Python kernels are Arrow-batched pandas UDFs);
* UTC session timezone (the reference requires tz-aware timestamps
  everywhere, model/positionfixes.py:64-66 — we normalize to UTC);
* two shuffle partition counts:
  - batch exchanges run under AQE and start from
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, sized
    by argument or env so tests (small) and clusters (large) pick
    sensible values without code changes;
  - streaming runs with AQE off and reads ``spark.sql.shuffle.partitions``
    raw, so that conf, the session's core count, sizes the tasks and the
    state partitions of every stateful streaming stage.
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
    ``shuffle_partitions`` (else ``SPARK_GRAFT_SHUFFLE``, else 32) is the
    batch exchanges' initial partition count; stateful streaming stages
    get one state partition per core. A stream restarted from an
    existing checkpoint keeps the count its offset log recorded. A key
    named in ``extra_conf`` wins over both.
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
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # set once the context runs: only then is its core count known
    for k, v in (
        ("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism),
        ("spark.sql.adaptive.coalescePartitions.initialPartitionNum", shuffle_partitions),
    ):
        if k not in extra_conf:
            spark.conf.set(k, str(v))
    return spark
