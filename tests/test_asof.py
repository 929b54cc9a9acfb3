"""As-of join (operators/asof.py) — oracle is pandas.merge_asof."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trackintel_spark.operators.asof import asof_join


def _mk(spark, left_pd, right_pd):
    return (
        spark.createDataFrame(left_pd),
        spark.createDataFrame(right_pd),
    )


def _sorted_records(df_pd, cols):
    out = df_pd[cols].astype(object)  # object dtype so None survives
    out = out.where(pd.notnull(out), None)
    return sorted(
        out.itertuples(index=False, name=None),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_matches_pandas_randomized(spark, direction, allow_exact):
    rng = np.random.RandomState(hash((direction, allow_exact)) % 2**31)
    keys = ["a", "b", "c"]
    left_pd = pd.DataFrame(
        {
            "k": rng.choice(keys, 60),
            "t": rng.randint(0, 50, 60).astype("float64"),
            "lv": np.arange(60),
        }
    ).sort_values("t", kind="stable").reset_index(drop=True)
    right_pd = pd.DataFrame(
        {
            "k": rng.choice(keys, 40),
            "t": rng.randint(0, 50, 40).astype("float64"),
            "rv": np.arange(40) * 10,
        }
    ).sort_values("t", kind="stable").reset_index(drop=True)

    expect = pd.merge_asof(
        left_pd,
        right_pd,
        on="t",
        by="k",
        direction=direction,
        allow_exact_matches=allow_exact,
        suffixes=("", "_right"),
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(
        l_df, r_df, on="t", by="k", direction=direction, allow_exact_matches=allow_exact
    ).toPandas()
    cols = ["k", "t", "lv", "rv"]
    assert _sorted_records(got, cols) == _sorted_records(expect, cols), direction


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_duplicate_right_timestamps_match_pandas(spark, direction):
    """Backward takes the LAST duplicate-timestamp right row, forward
    the FIRST — pandas searchsorted semantics."""
    left_pd = pd.DataFrame({"k": ["x", "x"], "t": [10.0, 4.9], "lv": [0, 1]})
    right_pd = pd.DataFrame(
        {"k": ["x"] * 4, "t": [5.0, 5.0, 5.0, 20.0], "rv": [1, 2, 3, 4]}
    )
    expect = pd.merge_asof(
        left_pd.sort_values("t"), right_pd, on="t", by="k", direction=direction
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(l_df, r_df, on="t", by="k", direction=direction).toPandas()
    cols = ["k", "t", "lv", "rv"]
    assert _sorted_records(got, cols) == _sorted_records(expect, cols)


def test_asof_tolerance_and_unmatched(spark):
    left_pd = pd.DataFrame({"k": ["a", "a", "b"], "t": [10.0, 100.0, 7.0], "lv": [1, 2, 3]})
    right_pd = pd.DataFrame({"k": ["a", "a"], "t": [8.0, 50.0], "rv": [80, 500]})
    expect = pd.merge_asof(
        left_pd.sort_values("t"), right_pd, on="t", by="k", tolerance=10.0
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(l_df, r_df, on="t", by="k", tolerance=10.0).toPandas()
    cols = ["k", "t", "lv", "rv"]
    assert _sorted_records(got, cols) == _sorted_records(expect, cols)
    # key b has no right rows at all -> NULL, row preserved
    assert got[got.k == "b"]["rv"].isna().all()


def test_asof_timestamps_and_column_collision(spark):
    """Timestamp on-columns work (tolerance in seconds) and colliding
    payload names get the suffix."""
    l_df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 5.0)], "id long, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    r_df = spark.createDataFrame(
        [("2024-01-01 00:05:00", 7.0), ("2024-01-01 00:09:00", 9.0)], "ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = asof_join(l_df, r_df, on="ts", tolerance=120.0)
    row = out.collect()[0]
    assert row["v"] == 5.0 and row["v_right"] == 9.0
    none = asof_join(l_df, r_df, on="ts", tolerance=30.0).collect()[0]
    assert none["v_right"] is None


def test_asof_global_no_by_key(spark):
    left_pd = pd.DataFrame({"t": [1.0, 5.0, 9.0], "lv": [1, 2, 3]})
    right_pd = pd.DataFrame({"t": [0.0, 6.0], "rv": [10, 20]})
    expect = pd.merge_asof(left_pd, right_pd, on="t", direction="nearest")
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(l_df, r_df, on="t", direction="nearest").toPandas()
    assert _sorted_records(got, ["t", "lv", "rv"]) == _sorted_records(expect, ["t", "lv", "rv"])


def test_asof_partition_invariance(spark):
    rng = np.random.RandomState(3)
    left_pd = pd.DataFrame(
        {"k": rng.choice(["a", "b"], 30), "t": rng.randint(0, 30, 30).astype(float), "lv": range(30)}
    )
    right_pd = pd.DataFrame(
        {"k": rng.choice(["a", "b"], 20), "t": rng.uniform(0, 30, 20).round(1), "rv": range(20)}
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    a = _sorted_records(asof_join(l_df, r_df, on="t", by="k").toPandas(), ["k", "t", "lv", "rv"])
    b = _sorted_records(
        asof_join(l_df.repartition(7), r_df.repartition(5), on="t", by="k").toPandas(),
        ["k", "t", "lv", "rv"],
    )
    assert a == b


def test_asof_multiple_by_columns(spark):
    """Composite equi-keys behave like pandas with by=[k1, k2]."""
    left_pd = pd.DataFrame(
        {
            "k1": ["a", "a", "b", "b"],
            "k2": [1, 2, 1, 2],
            "t": [10.0, 10.0, 10.0, 10.0],
            "lv": [0, 1, 2, 3],
        }
    )
    right_pd = pd.DataFrame(
        {
            "k1": ["a", "a", "b"],
            "k2": [1, 2, 1],
            "t": [5.0, 7.0, 9.0],
            "rv": [100, 200, 300],
        }
    )
    expect = pd.merge_asof(
        left_pd.sort_values("t"), right_pd.sort_values("t"), on="t", by=["k1", "k2"]
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(l_df, r_df, on="t", by=["k1", "k2"]).toPandas()
    cols = ["k1", "k2", "t", "lv", "rv"]
    assert _sorted_records(got, cols) == _sorted_records(expect, cols)


def test_asof_missing_right_column_raises(spark):
    l_df = spark.createDataFrame([(1, 1.0)], "k long, t double")
    r_df = spark.createDataFrame([(1, 1.0)], "k long, other double")
    with pytest.raises(ValueError, match="missing column"):
        asof_join(l_df, r_df, on="t", by="k")


def test_asof_nearest_tolerance_matches_pandas(spark):
    """direction='nearest' with a tolerance: both side matches must be
    tolerance-gated BEFORE picking the closer one (a backward match
    outside tolerance must not shadow a forward match inside it)."""
    rng = np.random.RandomState(424242)
    keys = ["a", "b"]
    left_pd = pd.DataFrame(
        {
            "k": rng.choice(keys, 50),
            "t": rng.randint(0, 80, 50).astype("float64"),
            "lv": np.arange(50),
        }
    ).sort_values("t", kind="stable").reset_index(drop=True)
    right_pd = pd.DataFrame(
        {
            "k": rng.choice(keys, 25),
            "t": rng.randint(0, 80, 25).astype("float64"),
            "rv": np.arange(25) * 10,
        }
    ).sort_values("t", kind="stable").reset_index(drop=True)

    expect = pd.merge_asof(
        left_pd, right_pd, on="t", by="k", direction="nearest", tolerance=4.0,
        suffixes=("", "_right"),
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(l_df, r_df, on="t", by="k", direction="nearest", tolerance=4.0).toPandas()
    cols = ["k", "t", "lv", "rv"]
    assert _sorted_records(got, cols) == _sorted_records(expect, cols)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_keyless_randomized_matches_pandas(spark, direction, allow_exact):
    """Key-less (by=None) parity on inputs big enough to spread over
    MANY range buckets — exercising the bucketed global scan with
    boundary carries (empty buckets, duplicate timestamps, exact ties
    included)."""
    rng = np.random.RandomState(hash(("keyless", direction, allow_exact)) % 2**31)
    left_pd = pd.DataFrame(
        {"t": np.sort(rng.randint(0, 500, 400)).astype(float), "lv": range(400)}
    )
    right_pd = pd.DataFrame(
        # half-range right keys leave the upper buckets right-free:
        # their matches must all come from boundary carries
        {"t": np.sort(rng.randint(0, 250, 150)).astype(float), "rv": range(150)}
    )
    expect = pd.merge_asof(
        left_pd, right_pd, on="t", direction=direction, allow_exact_matches=allow_exact
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    # left may be arbitrarily partitioned; right keeps createDataFrame
    # order (pandas breaks duplicate-timestamp ties by input position,
    # which repartitioning would scramble for ANY implementation)
    got = asof_join(
        l_df.repartition(7), r_df, on="t",
        direction=direction, allow_exact_matches=allow_exact,
    ).toPandas()
    assert _sorted_records(got, ["t", "lv", "rv"]) == _sorted_records(expect, ["t", "lv", "rv"])


@pytest.mark.parametrize("direction", ["backward", "nearest"])
def test_asof_keyless_no_single_partition_exchange(spark, direction):
    """The key-less scan must NOT serialize into one task: no
    SinglePartition exchange anywhere in the physical plan (the old
    Window.partitionBy(lit(1)) produced one)."""
    left_pd = pd.DataFrame({"t": np.arange(200).astype(float), "lv": range(200)})
    right_pd = pd.DataFrame({"t": np.arange(0, 200, 3).astype(float), "rv": range(67)})
    l_df, r_df = _mk(spark, left_pd, right_pd)
    out = asof_join(l_df, r_df, on="t", direction=direction)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan

@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_keyless_all_equal_timestamps(spark, direction, allow_exact):
    """Degenerate key-less input: EVERY row shares one timestamp, so the
    quantile pass on the event time returns zero cuts. The scan must
    (a) stay correct (pandas parity — ties resolve by right input
    position) and (b) re-bucket on the secondary rank composite instead
    of collapsing to one task."""
    left_pd = pd.DataFrame({"t": np.full(120, 7.0), "lv": range(120)})
    right_pd = pd.DataFrame({"t": np.full(90, 7.0), "rv": range(90)})
    expect = pd.merge_asof(
        left_pd, right_pd, on="t", direction=direction, allow_exact_matches=allow_exact
    )
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(
        l_df, r_df, on="t", direction=direction, allow_exact_matches=allow_exact
    ).toPandas()
    assert _sorted_records(got, ["t", "lv", "rv"]) == _sorted_records(expect, ["t", "lv", "rv"])


def test_asof_keyless_all_equal_rebuckets_on_secondary(spark):
    """With a constant event time the fallback must produce >1 bucket
    (secondary-composite cuts), not a single-bucket serial scan."""
    from trackintel_spark.operators.asof import _bucket_cuts

    left_pd = pd.DataFrame({"t": np.full(200, 3.0), "lv": range(200)})
    right_pd = pd.DataFrame({"t": np.full(200, 3.0), "rv": range(200)})
    l_df, r_df = _mk(spark, left_pd, right_pd)
    # replicate the union the backward scan builds, then probe the cuts
    from pyspark.sql import Window
    from trackintel_spark.operators.asof import _SEC_SCALE, _SIDE_L, _SIDE_R

    wr = Window.partitionBy(F.col("t")).orderBy("__in")
    r = (
        r_df.withColumn("__in", F.monotonically_increasing_id())
        .withColumn("__rk", F.row_number().over(wr))
        .select(F.col("t").alias("__t"), "__rk", F.lit(_SIDE_R).alias("__side"))
    )
    l_ = l_df.select(
        F.col("t").alias("__t"), F.lit(0).alias("__rk"), F.lit(_SIDE_L).alias("__side")
    )
    u = r.unionByName(l_)
    t0 = F.col("__t").cast("double")
    sec = (F.lit(-1) * F.col("__side")).cast("double") * F.lit(_SEC_SCALE) + F.col(
        "__rk"
    ).cast("double")
    bucket_on, cuts = _bucket_cuts(u, t0, sec, 8)
    assert len(cuts) >= 2, cuts  # parallelism restored


def test_asof_keyless_skewed_but_nonconstant_keeps_single_bucket(spark):
    """If the event time is merely skewed (quantiles collapse but values
    differ), secondary bucketing would interleave timestamps across
    buckets and corrupt the scan — the fallback must NOT engage, and
    the result must stay correct."""
    t = np.full(300, 5.0)
    t[::150] = [1.0, 9.0]  # two outliers; 0.001-precision quantiles collapse
    left_pd = pd.DataFrame({"t": np.sort(t), "lv": range(300)})
    right_pd = pd.DataFrame({"t": np.sort(t[:100]), "rv": range(100)})
    expect = pd.merge_asof(left_pd, right_pd, on="t", direction="backward")
    l_df, r_df = _mk(spark, left_pd, right_pd)
    got = asof_join(l_df, r_df, on="t", direction="backward").toPandas()
    assert _sorted_records(got, ["t", "lv", "rv"]) == _sorted_records(expect, ["t", "lv", "rv"])


def test_asof_shuffle_partitions_conf_non_numeric(spark):
    """A non-numeric spark.sql.shuffle.partitions (some deployments set
    'auto' via external resource managers) must not crash the key-less
    path — the bucket count falls back to 200. AQE's initial partition
    number, when set, is the batch count and comes first. Spark 4
    refuses to SET a non-int value on a live session, so probe the
    helper with a stub."""
    from trackintel_spark.operators.asof import _shuffle_partitions

    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

    class _Conf:
        def __init__(self, shuffle, initial_num):
            self._v = {"spark.sql.shuffle.partitions": shuffle, initial: initial_num}

        def get(self, key, default=None):
            return self._v.get(key, default)

    class _S:
        def __init__(self, shuffle, initial_num=None):
            self.conf = _Conf(shuffle, initial_num)

    assert _shuffle_partitions(_S("auto")) == 200
    assert _shuffle_partitions(_S(None)) == 200
    assert _shuffle_partitions(_S("64")) == 64
    assert _shuffle_partitions(_S("4", "32")) == 32
    assert _shuffle_partitions(_S("4", "auto")) == 4
    assert _shuffle_partitions(_S("auto", "32")) == 32
    assert _shuffle_partitions(spark) == int(spark.conf.get(initial))
