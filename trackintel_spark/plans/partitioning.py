"""Co-partitioning discipline for the entity tables.

All per-user operators (the generate_* family, speeds, metrics) shuffle
on user_id. Persisting every entity table bucketed by user_id makes the
whole pipeline reuse ONE partitioning: Spark recognizes bucketed tables
and elides the exchange before windows/groupBys/joins keyed on user_id.
At 100 TB this removes the dominant shuffle from every stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kernel_partitions(df: DataFrame) -> int:
    """Partition count for Python-kernel (applyInPandas) stages.

    AQE coalesces small shuffles down to 1-2 partitions — right for JVM
    exchanges, wrong for Python kernels where per-task Arrow + kernel
    cost dominates. An explicit user repartition count is exempt from
    AQE coalescing, so kernel inputs repartition to default parallelism.
    """
    return df.sparkSession.sparkContext.defaultParallelism


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 256,
    sort_cols: tuple[str, ...] = (),
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Persist a table bucketed (+ optionally sorted) on ``bucket_cols``
    so downstream groupBys/windows/joins keyed on them plan with NO
    hash exchange — the generic form of :func:`write_bucketed_by_user`
    (e.g. bucket a documents table by doc_id for shuffle-free dedup
    census joins, or embeddings by vec_id).

    ``partition_cols`` adds Hive-style directory partitioning ON TOP of
    the bucketing (``partitionBy`` and ``bucketBy`` compose in
    ``saveAsTable``): bucketing removes the SHUFFLE from key-wise
    stages, date partitioning removes the SCAN from incremental jobs —
    a daily job filtering ``event_date = X`` prunes every other
    partition at plan time (``PartitionFilters``) and still pays zero
    key exchange inside the day it reads. At 100 TB both halves matter:
    an unpartitioned warehouse re-reads the full history every night.
    Derive the date column with :func:`with_event_date` before writing.
    Both properties are pinned together in
    tests/test_plan_quality.py::test_partitioned_bucketed_table_prunes_and_elides.
    """
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w = w.bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*bucket_cols, *sort_cols)
    w.format("parquet").saveAsTable(table_name)


def with_event_date(df: DataFrame, ts_col: str = "tracked_at", out_col: str = "event_date") -> DataFrame:
    """Derive the warehouse partition date from an event timestamp
    (``tracked_at`` for positionfixes, ``started_at`` for the derived
    entities). Kept trivial on purpose — it exists so every writer
    derives the partition column the same way."""
    return df.withColumn(out_col, F.to_date(F.col(ts_col)))


def write_bucketed_by_user(
    df: DataFrame,
    table_name: str,
    num_buckets: int = 256,
    sort_cols: tuple[str, ...] = ("tracked_at",),
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Persist an entity table bucketed+sorted by user_id for shuffle-free
    downstream windows and co-located joins; optionally date-partitioned
    for scan pruning (see :func:`write_bucketed`)."""
    write_bucketed(df, table_name, ("user_id",), num_buckets, sort_cols, partition_cols)

