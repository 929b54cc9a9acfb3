"""As-of (point-in-time) join — the temporal operator Spark's DataFrame
API lacks natively.

For every left row, attach the single right row with the greatest
``right_on <= on`` (direction='backward'; 'forward' and 'nearest'
symmetric) within the same ``by`` key, optionally within ``tolerance``
— ``pandas.merge_asof`` semantics, which the test suite uses as the
oracle on randomized inputs.

Scale design — merge-scan, not a join
-------------------------------------
The naive formulations are a banded range join (duplicates every left
row per candidate band) or a windowed self-join (shuffles the right
table once per left reference). This implementation is the merge-scan:

1. tag and UNION the two inputs — left rows carry their payload, right
   rows carry theirs packed into one struct;
2. ONE shuffle on the ``by`` key, ONE in-partition sort on
   ``(event time, side tag, arrival rank)``;
3. ``last(right_struct, ignoreNulls=True)`` over the running window
   carries the most recent right payload forward onto each left row
   (for 'forward', the scan runs time-descending — a forward match is
   a backward match under reversed time).

Cost is a single hash exchange + sort of |L| + |R| rows — the same
shape as any window aggregation, linear in data, no row multiplication.
Ties at equal timestamps resolve like pandas: the LAST right row in
right-input order wins (deterministic here via an arrival rank);
``allow_exact_matches=False`` hides equal-time right rows by flipping
the side tag's sort position.

Key-less (``by=None``) as-of is the one case a global window would
serialize into a single task. It instead runs range-BUCKETED: quantile
cut points on the event time (one approxQuantile pass) assign
deterministic buckets, each bucket computes its running scan in
parallel, and per-bucket boundary values (<= n_buckets rows, collected
+ prefix-scanned on the driver) broadcast back as carry-ins —
``coalesce(running, carry)`` equals the global scan exactly, with no
SinglePartition exchange in the plan (pinned in test_asof.py). This
mode is EAGER (two small driver actions); the union is persisted
across them per the cache-lifetime convention (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trackintel_spark.plans.ids import persist_owned

_SIDE_L, _SIDE_R = 0, 1

# secondary-rank composite scale: |r1| <= 2 and r2 = row_number (int32),
# so r1 * 2^32 + r2 stays exactly representable in a double (< 2^53).
# The composite is ORDER-EXACT only while __rk < 2^32 — and __rk is a
# per-(key, timestamp) row_number, a Spark IntegerType that would
# overflow long before 2^32 rows share one timestamp under one key, so
# the bound holds by construction (4 billion same-key same-microsecond
# right rows would break row_number itself first).
_SEC_SCALE = 2.0**32


def _shuffle_partitions(spark) -> int:
    """The batch shuffle partition count as an int: AQE's
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` when
    set (``get_spark`` sizes ``spark.sql.shuffle.partitions`` for
    streaming state), else ``spark.sql.shuffle.partitions``, tolerating
    the 'auto' / non-numeric values some deployments set (falls back to
    200)."""
    for key in ("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "spark.sql.shuffle.partitions"):
        try:
            return int(spark.conf.get(key, None))
        except (TypeError, ValueError):
            pass
    return 200


def _rank_cuts(u: DataFrame, rank0: Column, n_buckets: int) -> list[float]:
    """Quantile split points of the leading rank component — ONE
    approxQuantile pass (a driver action; key-less mode is eager)."""
    if n_buckets <= 1:
        return []
    probe = u.select(rank0.cast("double").alias("__rank0"))
    cuts = probe.stat.approxQuantile(
        "__rank0", [i / n_buckets for i in range(1, n_buckets)], 0.001
    )
    return sorted(set(cuts))


def _bucket_cuts(
    u: DataFrame, rank0: Column, rank_sec: Column, n_buckets: int
) -> tuple[Column, list[float]]:
    """Pick the bucketing expression + cut points for the key-less scan.

    Normally the leading rank component (event time) spreads enough to
    cut on directly. When its quantiles collapse to a single point
    (every row shares one timestamp — approxQuantile returns the one
    constant for every probe, so <= 1 distinct cut and every row lands
    in the same bucket), the scan would degenerate to ONE task. In
    that case, IF the
    leading component is provably constant (min == max, no NULLs), the
    global order is decided entirely by the secondary components, so
    cutting on their exact numeric composite keeps bucket order ==
    rank order and restores parallelism. If the leading component
    merely has extreme skew (non-constant but collapsed quantiles), a
    secondary cut would interleave rank0 values across buckets and
    CORRUPT the scan — keep the single bucket there.

    Residual bottleneck in the all-equal-timestamp case: the ``__rk``
    row_number window upstream partitions BY THE TIMESTAMP, so with one
    constant timestamp it is itself a single-task sort over the right
    side. The secondary re-bucket restores downstream SCAN parallelism
    but cannot parallelize that upstream rank — a degenerate input this
    total (every right row at one instant) pays one serialized sort of
    the right side first. Real key-less inputs (market ticks, logs)
    never look like this; the branch exists so the answer stays exact
    rather than fast.
    """
    cuts = _rank_cuts(u, rank0, n_buckets)
    if len(cuts) > 1:
        return rank0, cuts
    r0d = rank0.cast("double")
    stats = u.select(
        F.min(r0d).alias("lo"),
        F.max(r0d).alias("hi"),
        F.sum(F.when(r0d.isNull(), 1).otherwise(0)).alias("nulls"),
    ).first()
    if (
        stats["lo"] is not None
        and stats["lo"] == stats["hi"]
        and not (stats["nulls"] or 0)
    ):
        sec_cuts = _rank_cuts(u, rank_sec, n_buckets)
        if len(sec_cuts) > 1:
            return rank_sec, sec_cuts
    return rank0, cuts


def _global_scan_last(
    u: DataFrame,
    bucket_on: Column,
    rank: Column,
    value_col: str,
    out_col: str,
    cuts: list[float],
) -> DataFrame:
    """Global (key-less) ``last(value, ignorenulls) OVER (ORDER BY rank
    ROWS UNBOUNDED PRECEDING)`` WITHOUT the single-task
    ``Window.partitionBy(lit(1))``:

    1. deterministic range buckets from the precomputed ``cuts`` on
       ``bucket_on`` — a rank-order-monotone expression, normally the
       leading rank component (literal comparisons — equal keys always
       share a bucket, so bucket order respects rank order);
    2. a per-bucket running window (ONE hash exchange on ``__bkt``,
       reused by the boundary aggregate, full parallelism);
    3. per-bucket boundary values (``max_by`` over non-null rows)
       collected to the driver — <= len(cuts)+1 rows — prefix-scanned
       in Python, and broadcast-joined back as each bucket's carry-in.

    ``coalesce(running, carry_in)`` equals the global scan exactly.
    Eager (one collect); the caller persists ``u`` across the actions.
    """
    sfx = out_col.strip("_")
    rkc, bkc, runc = f"__rank_{sfx}", f"__bkt_{sfx}", f"__run_{sfx}"
    bkt: Column = F.lit(0)
    for c in cuts:
        bkt = bkt + F.when(bucket_on.cast("double") >= F.lit(float(c)), 1).otherwise(0)
    u2 = u.withColumn(rkc, rank).withColumn(
        bkc, F.when(bucket_on.isNull(), F.lit(0)).otherwise(bkt).cast("int")
    )
    w = Window.partitionBy(bkc).orderBy(F.col(rkc).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = u2.withColumn(runc, F.last(value_col, ignorenulls=True).over(w))

    bnd = (
        u2.filter(F.col(value_col).isNotNull())
        .groupBy(bkc)
        .agg(F.max_by(F.col(value_col), F.col(rkc)).alias("__bnd"))
        .collect()
    )
    by_bkt = {r[bkc]: r["__bnd"] for r in bnd}
    carry = None
    carry_rows = []
    for k in range(len(cuts) + 1):
        carry_rows.append((k, carry))
        if k in by_bkt:
            carry = by_bkt[k]
    vtype = u2.schema[value_col].dataType
    carried = u.sparkSession.createDataFrame(
        carry_rows,
        T.StructType(
            [T.StructField(bkc, T.IntegerType()), T.StructField("__carry", vtype)]
        ),
    )
    return (
        run.join(F.broadcast(carried), on=bkc, how="left")
        .withColumn(out_col, F.coalesce(F.col(runc), F.col("__carry")))
        .drop(rkc, bkc, runc, "__carry")
    )


def _ranked_right(
    left: DataFrame, right: DataFrame, by_cols: list[str], right_on: str, suffix: str
) -> tuple[DataFrame, list[str], dict[str, str]]:
    """Right with its arrival rank ``__rk``, right's payload columns and
    their output names (``suffix`` appended on a clash with left).

    The rank orders ONLY right rows that share (key, timestamp): pandas
    resolves duplicate-timestamp matches by input position (backward
    takes the last such row, forward the first). Keyed path: the raw
    monotonically_increasing_id IS that rank — row_number over it is
    order-isomorphic within any (key, t) group, and skipping the rank
    window removes a whole exchange + sort of the right table (it
    hash-partitioned on (key, t), which the union's (key) exchange
    can't reuse — measured ~15% of the 40M probe's wall). Key-less
    path keeps the dense rank: its bucketed global scan folds __rk into
    a double rank whose precision budget needs small values.
    """
    r_payload_cols = [c for c in right.columns if c not in by_cols and c != right_on]
    out_names = {c: c + suffix if c in left.columns else c for c in r_payload_cols}
    if by_cols:
        return right.withColumn("__rk", F.monotonically_increasing_id()), r_payload_cols, out_names
    wr = Window.partitionBy(right_on).orderBy("__in")
    rbase = (
        right.withColumn("__in", F.monotonically_increasing_id())
        .withColumn("__rk", F.row_number().over(wr).cast("long"))
        .drop("__in")
    )
    return rbase, r_payload_cols, out_names


def _asof_one(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by_cols: list[str],
    right_on: str,
    direction: str,
    tolerance: float | None,
    allow_exact_matches: bool,
    suffix: str,
) -> tuple[DataFrame, list[str]]:
    """Single-direction merge-scan. Returns (frame, payload_out_names);
    the frame has left's columns + renamed right payload + ``__asof_dt``
    (|Δt| seconds/units to the match, NULL when unmatched)."""
    t_l, t_r = F.col(on), F.col(right_on)
    rbase, r_payload_cols, out_names = _ranked_right(left, right, by_cols, right_on, suffix)
    r = rbase.select(
        *by_cols,
        t_r.alias("__t"),
        "__rk",
        F.struct(
            t_r.cast("double").alias("__rt"),
            *[F.col(c).alias(out_names[c]) for c in r_payload_cols],
        ).alias("__r"),
        F.lit(_SIDE_R).alias("__side"),
    )
    l_ = left.select(
        *by_cols,
        t_l.alias("__t"),
        F.lit(0).cast("long").alias("__rk"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
        F.lit(_SIDE_L).alias("__side"),
        F.struct(*left.columns).alias("__l"),
    )
    u = r.withColumn("__l", F.lit(None).cast(l_.schema["__l"].dataType)).unionByName(l_)

    # Within equal __t the right row must sort BEFORE the left row to be
    # visible to it (exact matches allowed) and AFTER it otherwise. The
    # scan direction flips for 'forward'; __rk keeps last-in-input-order
    # the winner under both.
    side_first_r = F.col("__side").desc() if allow_exact_matches else F.col("__side").asc()
    if direction == "forward":
        order = [F.col("__t").desc(), side_first_r, F.col("__rk").desc()]
    else:
        order = [F.col("__t").asc(), side_first_r, F.col("__rk").asc()]
    if by_cols:
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    else:
        # key-less as-of: the equivalent global scan would serialize into
        # ONE task; run it range-bucketed with a boadcast carry instead
        # (eager — see _global_scan_last)
        s_sign = -1 if allow_exact_matches else 1  # side desc == right first
        t0 = F.col("__t").cast("double")
        r1 = F.lit(s_sign) * F.col("__side")
        if direction == "forward":
            rank0 = -t0
            rank = F.struct(
                (-t0).alias("r0"), r1.alias("r1"), (-F.col("__rk")).alias("r2")
            )
            rank_sec = r1.cast("double") * F.lit(_SEC_SCALE) - F.col("__rk").cast("double")
        else:
            rank0 = t0
            rank = F.struct(
                t0.alias("r0"), r1.alias("r1"), F.col("__rk").alias("r2")
            )
            rank_sec = r1.cast("double") * F.lit(_SEC_SCALE) + F.col("__rk").cast("double")
        u = persist_owned(u)  # feeds the quantile pass, the boundary collect, and the result
        n_buckets = _shuffle_partitions(u.sparkSession)
        bucket_on, cuts = _bucket_cuts(u, rank0, rank_sec, n_buckets)
        matched = _global_scan_last(u, bucket_on, rank, "__r", "__m", cuts)
    matched = matched.filter(F.col("__side") == _SIDE_L)
    dt = F.abs(F.col("__t").cast("double") - F.col("__m.__rt"))
    keep = F.col("__m").isNotNull() & (
        F.lit(tolerance is None) | (dt <= F.lit(tolerance or 0.0))
    )
    matched = matched.withColumn("__m", F.when(keep, F.col("__m")))
    out = matched.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__m.{out_names[c]}").alias(out_names[c]) for c in r_payload_cols],
        F.when(F.col("__m").isNotNull(), dt).alias("__asof_dt"),
    )
    return out, [out_names[c] for c in r_payload_cols]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | list[str] | None = None,
    right_on: str | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_right",
) -> DataFrame:
    """``pandas.merge_asof`` for DataFrames at cluster scale.

    Parameters mirror pandas: ``on`` (left event-time column; timestamp
    or numeric), ``right_on`` (defaults to ``on``), ``by`` (equi-key
    column(s); None = global as-of), ``direction`` in {'backward',
    'forward', 'nearest'}, ``tolerance`` (max Δ in units of ``on`` —
    seconds for timestamps), ``allow_exact_matches``.

    Returns every left row with the matched right payload columns
    appended (renamed with ``suffix`` on collision); unmatched left
    rows keep NULLs. Right's ``by``/``right_on`` columns are not
    duplicated. 'nearest' runs both scans and keeps the closer match
    per row (ties to the backward side, like pandas).

    .. note:: key-less mode (``by=None``) is EAGER: calling this
       function triggers Spark jobs immediately (one approxQuantile
       pass plus per-bucket boundary collects — small driver actions)
       and persists the internal union for the result's lifetime, per
       the SCALE.md cache-lifetime convention. Keyed mode is fully
       lazy as usual.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    right_on = right_on or on
    by_cols = [by] if isinstance(by, str) else list(by or [])
    for c in by_cols + [right_on]:
        if c not in right.columns:
            raise ValueError(f"right is missing column {c!r}")

    if direction != "nearest":
        out, _ = _asof_one(
            left, right, on, by_cols, right_on, direction, tolerance, allow_exact_matches, suffix
        )
        return out.drop("__asof_dt")

    # nearest: ONE union, ONE sort, TWO running windows over the same
    # ordering (backward = last preceding right, forward = first
    # following right). Each right row enters the union twice — a
    # B-copy placed so only the backward frame sees it at equal
    # timestamps and an F-copy placed symmetrically — which makes both
    # scans correct for either allow_exact_matches setting under a
    # single sort. Fully deterministic: no generated ids, no join (the
    # former design joined two independently-evaluated
    # monotonically_increasing_id columns, which can silently misalign
    # rows when the left plan is nondeterministic or a task retries).
    t_l, t_r = F.col(on), F.col(right_on)
    rbase, r_payload_cols, out_names = _ranked_right(left, right, by_cols, right_on, suffix)
    payload = [out_names[c] for c in r_payload_cols]
    rstruct = F.struct(
        t_r.cast("double").alias("__rt"),
        *[F.col(c).alias(out_names[c]) for c in r_payload_cols],
    )
    # sort position at equal __t: exact matches allowed -> B-copy,
    # left, F-copy (both copies visible); disallowed -> F-copy, left,
    # B-copy (both copies hidden from their frame)
    ord_b, ord_f = (0, 2) if allow_exact_matches else (2, 0)
    rtype = rbase.select(rstruct.alias("__s")).schema["__s"].dataType
    rb = rbase.select(
        *by_cols, t_r.alias("__t"), F.lit(ord_b).alias("__ord"), "__rk",
        rstruct.alias("__rb"), F.lit(None).cast(rtype).alias("__rf"),
    )
    rf = rbase.select(
        *by_cols, t_r.alias("__t"), F.lit(ord_f).alias("__ord"), "__rk",
        F.lit(None).cast(rtype).alias("__rb"), rstruct.alias("__rf"),
    )
    ltype_df = left.select(F.struct(*left.columns).alias("__l"))
    ltype = ltype_df.schema["__l"].dataType
    l_ = left.select(
        *by_cols, t_l.alias("__t"), F.lit(1).alias("__ord"), F.lit(0).cast("long").alias("__rk"),
        F.lit(None).cast(rtype).alias("__rb"), F.lit(None).cast(rtype).alias("__rf"),
        F.struct(*left.columns).alias("__l"),
    )
    u = (
        rb.withColumn("__l", F.lit(None).cast(ltype))
        .unionByName(rf.withColumn("__l", F.lit(None).cast(ltype)))
        .unionByName(l_)
    )
    if by_cols:
        order = [F.col("__t").asc(), F.col("__ord").asc(), F.col("__rk").asc()]
        rev = [F.col("__t").desc(), F.col("__ord").desc(), F.col("__rk").desc()]
        wb = Window.partitionBy(*by_cols).orderBy(*order).rowsBetween(
            Window.unboundedPreceding, 0
        )
        # the forward match is the same row set as [current, unbounded
        # following] under the ascending sort, but expressed as a RUNNING
        # prefix over the reversed sort: Spark's unbounded-FOLLOWING frame
        # re-evaluates the whole remaining frame per row (O(group^2) —
        # measured 10x the backward scan at 40M rows), while two running
        # frames cost one extra in-partition sort and stay linear.
        wf = Window.partitionBy(*by_cols).orderBy(*rev).rowsBetween(
            Window.unboundedPreceding, 0
        )
        m = (
            u.withColumn("__b", F.last("__rb", ignorenulls=True).over(wb))
            .withColumn("__f", F.last("__rf", ignorenulls=True).over(wf))
            .filter(F.col("__ord") == 1)
        )
    else:
        # key-less nearest: both running scans go through the bucketed
        # global-scan path (see _global_scan_last); one quantile pass
        # shared, forward reuses the negated cut points
        t0 = F.col("__t").cast("double")
        rank_b = F.struct(
            t0.alias("r0"), F.col("__ord").alias("r1"), F.col("__rk").alias("r2")
        )
        rank_f = F.struct(
            (-t0).alias("r0"), (-F.col("__ord")).alias("r1"), (-F.col("__rk")).alias("r2")
        )
        u = persist_owned(u)  # feeds the quantile pass, two boundary collects, the result
        n_buckets = _shuffle_partitions(u.sparkSession)
        # the forward scan's order is the exact negation of the backward
        # scan's (rank_f == -rank_b componentwise), so ONE cut pass
        # serves both: negate the bucketing expression and cut points.
        sec_b = F.col("__ord").cast("double") * F.lit(_SEC_SCALE) + F.col("__rk").cast("double")
        bucket_on, cuts = _bucket_cuts(u, t0, sec_b, n_buckets)
        m = _global_scan_last(u, bucket_on, rank_b, "__rb", "__b", cuts)
        m = _global_scan_last(m, -bucket_on, rank_f, "__rf", "__f", sorted(-c for c in cuts))
        m = m.filter(F.col("__ord") == 1)
    bt = F.abs(F.col("__t").cast("double") - F.col("__b.__rt"))
    ft = F.abs(F.col("__t").cast("double") - F.col("__f.__rt"))
    if tolerance is not None:
        m = m.withColumn("__b", F.when(bt <= F.lit(float(tolerance)), F.col("__b")))
        m = m.withColumn("__f", F.when(ft <= F.lit(float(tolerance)), F.col("__f")))
    pick_b = F.when(ft.isNull(), F.lit(True)).when(bt.isNull(), F.lit(False)).otherwise(bt <= ft)
    best = F.when(pick_b, F.col("__b")).otherwise(F.col("__f"))
    return m.withColumn("__best", best).select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__best.{c}").alias(c) for c in payload],
    )
