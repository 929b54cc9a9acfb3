"""Deterministic, scalable dense id assignment.

Every trackintel generate-operator assigns fresh int64 ids 0..n-1 in
(user_id, time) order (e.g. preprocessing/positionfixes.py:162-164).
A naive ``row_number() OVER (ORDER BY ...)`` funnels the whole table
through ONE task — unacceptable at 100 TB. Both helpers here
range-partition on the sort key, number rows within partitions, and
add per-PARTITION base offsets (<= defaultParallelism longs):

* :func:`dense_id_by_user`, the one eager helper, is the
  ``zipWithIndex`` scheme: the bases are collected to the driver and
  folded back as a literal map lookup on ``spark_partition_id()``.
  The collect is bounded by cluster parallelism, never data, and
  replaces joins/broadcasts of cardinality-growing offset tables — the
  100 TB driver-OOM trap — AND keeps the input lineage in the output
  plan exactly once: offset-table joins re-embed the input subtree,
  and chained generate-operators then grow the logical plan
  exponentially (a five-operator chain was literally un-plannable
  before this). Like ``zipWithIndex``, it triggers one counting job at
  call time and caches the shuffled input for the main query to reuse;
* :func:`exclusive_prefix_sum` is lazy: its bases join back as a
  broadcast of the p-row totals table, so it runs no job at call time
  but embeds its input twice — for pipeline tails
  (:func:`dense_rank_ordered`, ``scale/sampling.py``).

The eager helper's cache is LOAD-BEARING: the collected bases describe
the cached partitioning, so it must not be unpersisted under its own
output. The helper also owns the one cache of its input, held only
for its counting job, so callers pass their plans in uncached. Every
persist the library keeps past its call (these sorted caches, and
the few operator caches of other intermediates) is registered here;
long sessions chaining many operators accumulate them — call
:func:`release_id_caches` after the consuming action (write/collect)
to free them.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_ID_CACHES: list[tuple[int, DataFrame]] = []  # (semanticHash, handle)
_ID_CACHES_LOCK = threading.Lock()


def persist_owned(df: DataFrame, *args) -> DataFrame:
    """``df.persist(*args)``, registered so :func:`release_id_caches`
    frees it. For caches that outlive the call that made them (the
    returned plan reads them). A plan that is already registered (the
    same operator re-run on the same input) keeps its one entry."""
    return _register(df.persist(*args))


def _register(df: DataFrame) -> DataFrame:
    key = df.semanticHash()
    with _ID_CACHES_LOCK:
        if not any(k == key and h.sameSemantics(df) for k, h in _ID_CACHES):
            _ID_CACHES.append((key, df))
    return df


def release_id_caches() -> int:
    """Unpersist the registered persists: every cache made through
    :func:`persist_owned` (the eager id helper's sorted caches and the
    few operator caches of other intermediates). The id helper frees
    its input caches itself, so they are not among them.

    The lineage checkpoints of iterative operators (dbscan rounds,
    graph connected components, rollup levels, privacy, dedup) are not
    registered: they stay with the context cleaner, which frees them
    once their DataFrames are garbage-collected.

    Safe once the outputs have been materialized (written/collected):
    recomputation after release would re-sample range boundaries, so
    only call between pipelines, not under a pending lazy plan. Returns
    the number of caches released.
    """
    with _ID_CACHES_LOCK:
        handles = _ID_CACHES[:]
        _ID_CACHES.clear()
    n = 0
    for _, h in handles:
        try:
            h.unpersist()
            n += 1
        except Exception:  # session torn down — nothing to free
            pass
    return n


def exclusive_prefix_sum(df: DataFrame, order_col: str, val_col: str, out_col: str = "__off") -> DataFrame:
    """Add ``out_col`` = exclusive running sum of ``val_col`` in
    ``order_col`` order, without a single-task global window.

    Range-repartition by ``order_col`` (disjoint, ordered ranges),
    prefix-sum within each partition with a window, then add the
    per-partition base offsets — one long per PARTITION, bounded by
    ``defaultParallelism``, never data — joined back as a broadcast of
    the p-row totals table (a justified broadcast: bounded by cluster
    parallelism). No job at call time, but the plan embeds the
    repartitioned input twice — use at pipeline tails.

    The sampled range boundaries only decide which partition a row
    lands in, never its global position — results are deterministic
    for distinct ``order_col`` values.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(p, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("__p", F.spark_partition_id())
    )
    w_in = (
        Window.partitionBy("__p").orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    )
    run = F.coalesce(F.sum(val_col).over(w_in), F.lit(0))
    totals_df = d.groupBy("__p").agg(F.sum(val_col).alias("__tot"))
    w_base = Window.orderBy("__p").rowsBetween(Window.unboundedPreceding, -1)
    bases_df = totals_df.select(
        "__p", F.coalesce(F.sum("__tot").over(w_base), F.lit(0)).alias("__base")
    )
    return (
        d.join(F.broadcast(bases_df), on="__p")
        .withColumn(out_col, (F.col("__base") + run).cast("long"))
        .drop("__p", "__base")
    )


def dense_id_by_user(
    df: DataFrame,
    order_by: list[Column | str],
    id_col: str = "id",
    user_col: str = "user_id",
) -> DataFrame:
    """Add ``id_col`` = dense 0-based rank over (user_col, *order_by).

    Equivalent to ``row_number() over (order by user, *order_by) - 1``
    but with the zipWithIndex scheme: ONE range shuffle on the sort
    key, and each row's position within its sorted partition taken in
    that same pass — ``monotonically_increasing_id()`` minus
    ``__p << 33``, a per-partition counter in the sorted order — then
    cached with the rows. Driver-collected per-partition bases
    (<= defaultParallelism longs) are added as a literal map lookup, so
    the id is a narrow projection of the cache: no window, no second
    exchange, no global sort task, no join, and the input lineage
    appears in the output plan exactly once — chains of
    generate-operators plan in linear, not exponential, tree size.
    Range partitioning keeps equal keys together, so ids are
    deterministic wherever the sort key is.

    The range shuffle reads ``df`` twice: once to sample the range
    bounds (its own job), once to shuffle. So an uncached ``df`` (a
    Python kernel's output, say) is cached for the counting job and
    unpersisted right after it, even when the job fails: ``df`` is
    computed once, and only the sorted cache outlives the call. Not
    before the job: once the sorted cache is fully loaded, dropping the
    input cache leaves it as it is, while an unloaded one would be
    recompiled, re-sampling the bounds the collected bases describe.
    A ``df`` the caller cached is left cached. For the same reason, do
    not run two passes with different sort keys over one uncached
    ``df`` at once: the first to finish drops the input cache under
    the other's unloaded sorted cache.

    The sorted cache is registered for :func:`release_id_caches` only
    once the counting job has succeeded: a failed job leaves neither
    cache behind.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in [user_col, *order_by]]
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.persist()
    try:
        d = (
            df.repartitionByRange(p, *cols)
            .sortWithinPartitions(*cols)
            .withColumn("__p", F.spark_partition_id())
            .withColumn("__pos", F.monotonically_increasing_id() - F.shiftleft(F.col("__p").cast("long"), 33))
        )
        fresh = d.storageLevel == StorageLevel.NONE
        d = d.persist()
        try:
            counts = {r["__p"]: r["__n"] for r in d.groupBy("__p").agg(F.count(F.lit(1)).alias("__n")).collect()}
        except BaseException:
            if fresh:
                d.unpersist(blocking=False)
            raise
    finally:
        if owned:
            df.unpersist(blocking=False)
    _register(d)
    bases: list[str] = []
    acc = 0
    for pid in sorted(counts):
        bases.extend([str(pid), str(acc)])
        acc += counts[pid]
    # ONE SQL string instead of 2p F.lit py4j round trips
    base = F.expr(f"coalesce(element_at(map({', '.join(bases)}), __p), 0)") if bases else F.lit(0)
    return d.withColumn(id_col, (base + F.col("__pos")).cast("long")).drop("__p", "__pos")


def dense_rank_ordered(df: DataFrame, order_col: str, out_col: str = "dense_id") -> DataFrame:
    """Global 0-based dense index over the DISTINCT values of ``order_col``
    without a single-task global window.

    The exclusive prefix count of ones over the distinct values IS the
    dense rank. Use when the distinct-value count can grow with the
    data (e.g. cluster labels); for per-user ids use
    :func:`dense_id_by_user`. The bases join back as a broadcast of
    the bounded p-row table: densification sits at pipeline tails,
    where the double lineage embedding doesn't compound and skipping a
    counting job saves an action.
    """
    d = df.select(order_col).distinct().withColumn("__one", F.lit(1))
    return exclusive_prefix_sum(d, order_col, "__one", out_col=out_col).select(order_col, out_col)
