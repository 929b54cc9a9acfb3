"""plans/: dense id assignment, co-partitioning, bucketed persistence."""

from pyspark.sql import functions as F

from trackintel_spark.plans.ids import dense_id_by_user
from trackintel_spark.plans.partitioning import write_bucketed_by_user


def test_dense_id_matches_global_row_number(spark):
    small = [(u, t) for u in (3, 1, 7) for t in range(5)]
    # more input partitions than defaultParallelism, the same
    # timestamps repeated across users, uneven per-user row counts
    p = spark.sparkContext.defaultParallelism
    big = [(u, t) for u in range(40) for t in range(0, 3 * (u % 7) + 5, 3)]
    for data, n_parts in ((small, None), (big, 4 * p + 1)):
        df = spark.createDataFrame(data, "user_id long, t long")
        df = df.repartition(n_parts) if n_parts else df
        out = dense_id_by_user(df, order_by=["t"], id_col="id")
        got = {(r.user_id, r.t): r.id for r in out.collect()}
        # expected: ids dense over (user_id, t) global ordering
        assert got == {pair: i for i, pair in enumerate(sorted(data))}


def test_dense_id_runs_an_uncached_kernel_once_with_stable_ids(spark):
    """An uncached applyInPandas output goes straight in: the id pass
    caches it for its range sampling, so the kernel runs once per
    group, and every later read (two collects, a filtered count) reads
    the sorted cache with the same ids. Sized so that range sampling
    really samples: 60 users x 500 rows over 7 input partitions."""
    from pyspark.sql import Window

    from trackintel_spark.plans import ids

    calls = spark.sparkContext.accumulator(0)

    def kernel(pdf):
        calls.add(1)
        return pdf

    df = spark.range(60 * 500, numPartitions=7).selectExpr("id % 60 AS user_id", "(id * 7919) % 100003 AS t")
    raw = df.groupBy("user_id").applyInPandas(kernel, schema="user_id long, t long")
    out = dense_id_by_user(raw, order_by=["t"], id_col="id")
    expected = {
        (r.user_id, r.t): r.rn
        for r in df.select("user_id", "t", (F.row_number().over(Window.orderBy("user_id", "t")) - 1).alias("rn"))
        .collect()
    }
    for _ in range(2):
        assert {(r.user_id, r.t): r.id for r in out.collect()} == expected
    assert out.filter("id % 2 = 0").count() == len(expected) // 2
    assert calls.value == 60

    ids.release_id_caches()
    before = _pinned_ids(spark)
    empty = dense_id_by_user(spark.createDataFrame([], "user_id long, t long"), order_by=["t"])
    assert empty.collect() == [] and empty.schema["id"].dataType.typeName() == "long"
    ids.release_id_caches()
    assert _pinned_ids(spark) <= before


def test_dense_id_leaves_a_caller_cache_and_frees_its_own_on_failure(spark):
    """The id pass frees only the input cache it made: a frame the
    caller cached is still cached after the helper's output is read,
    and a kernel that raises inside the helper leaves nothing pinned
    and nothing registered for release."""
    import pytest
    from pyspark import StorageLevel

    from trackintel_spark.plans import ids

    ids.release_id_caches()
    before = _pinned_ids(spark)
    mine = spark.createDataFrame([(u, t) for u in (1, 2) for t in range(5)], "user_id long, t long").persist()
    assert len(dense_id_by_user(mine, order_by=["t"]).collect()) == 10
    assert mine.storageLevel != StorageLevel.NONE
    mine.unpersist()
    ids.release_id_caches()

    def boom(pdf):
        raise ValueError("kernel failed")

    raw = mine.groupBy("user_id").applyInPandas(boom, schema="user_id long, t long")
    registered = len(ids._ID_CACHES)
    with pytest.raises(Exception, match="kernel failed"):
        dense_id_by_user(raw, order_by=["t"])
    assert _pinned_ids(spark) <= before
    assert len(ids._ID_CACHES) == registered
    ids.release_id_caches()


def _pinned_ids(spark) -> set:
    """Ids of the session's persisted RDDs. Compared as sets: local
    checkpoints left by earlier tests are freed by the context cleaner
    at GC time, which can happen in the middle of a test."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_release_id_caches_frees_everything_the_chain_cached(spark):
    """Every cache the generate-operators leave behind is registered:
    after the outputs are collected, release_id_caches() leaves no RDD
    pinned that the chain pinned. Each operator's one cache is its id
    pass's sorted cache: no kernel output stays cached beside it."""
    from tests.test_accessors import _walkers
    from trackintel_spark.analysis import create_activity_flag
    from trackintel_spark.operators import (
        generate_locations, generate_staypoints, generate_tours, generate_trips, generate_triplegs,
    )
    from trackintel_spark.plans import ids
    from trackintel_spark.plans.ids import release_id_caches

    release_id_caches()
    before = _pinned_ids(spark)

    pfs, sp = generate_staypoints(_walkers(spark), dist_threshold=150, time_threshold=20, gap_threshold=600)
    pfs, tpls = generate_triplegs(pfs, sp)
    sp, tpls, trips = generate_trips(create_activity_flag(sp, time_threshold=15), tpls, gap_threshold=15)
    trips, tours = generate_tours(trips, max_dist=5000)
    sp, locs = generate_locations(sp, epsilon=100, num_samples=1)
    for out in (pfs, sp, tpls, trips, tours, locs):
        out.collect()
    assert trips.count() >= 2
    assert _pinned_ids(spark) - before
    assert len(ids._ID_CACHES) == 5  # one per id pass
    for rdd_id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rdd_id not in before:
            # the cached plan's root, below the AdaptiveSparkPlan line
            root = [line for line in rdd.name().splitlines() if "AdaptiveSparkPlan" not in line][0]
            assert "FlatMapGroupsInPandas" not in root, root

    assert release_id_caches() > 0
    assert _pinned_ids(spark) <= before


def test_python_kernels_run_once_per_group(spark, monkeypatch):
    """The id pass reads its input twice (range sampling, then the
    sorted shuffle), and it caches that input for its counting job, so
    the staypoint, tripleg, tour and location kernels feeding it run
    once per user group, not once per read; later reads, downstream
    operators' included, read its sorted cache."""
    from tests.test_accessors import _walkers
    from trackintel_spark.analysis import create_activity_flag
    from trackintel_spark.operators import (
        generate_locations, generate_staypoints, generate_tours, generate_trips, generate_triplegs,
    )
    from trackintel_spark.operators import locations as loc_mod
    from trackintel_spark.operators import staypoints as sp_mod
    from trackintel_spark.operators import tours as tours_mod
    from trackintel_spark.operators import triplegs as tpl_mod

    def counted(module, name):
        kernel, calls = getattr(module, name), spark.sparkContext.accumulator(0)

        def wrapper(*args, **kwargs):
            calls.add(1)
            return kernel(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)
        return calls

    sp_calls = counted(sp_mod, "_sliding_kernel")
    tour_calls = counted(tours_mod, "_tours_kernel")
    tpl_calls = counted(tpl_mod, "_triplegs_kernel")
    pfs, sp = generate_staypoints(_walkers(spark), dist_threshold=150, time_threshold=20, gap_threshold=600)
    sp.collect()
    assert sp_calls.value == 2  # two users, one group each
    pfs, tpls = generate_triplegs(pfs, sp)
    tpls.collect()
    assert tpl_calls.value == 2
    _, _, trips = generate_trips(create_activity_flag(sp, time_threshold=15), tpls, gap_threshold=15)
    _, tours = generate_tours(trips, max_dist=5000)
    tours.collect()
    assert tour_calls.value == trips.select("user_id").distinct().count() == 2
    assert sp_calls.value == tpl_calls.value == 2  # the downstream operators read the caches
    loc_calls = counted(loc_mod, "_locations_kernel")
    sp_loc, locs = generate_locations(sp, epsilon=100, num_samples=1)
    locs.collect()
    sp_loc.collect()
    assert loc_calls.value == 2  # labels and geometry of each user in one call


def test_repeated_call_keeps_one_registry_entry(spark):
    """The same plan cached twice keeps one registry entry, whether an
    operator re-runs on the same input or the plan is built twice as
    separate DataFrames."""
    from trackintel_spark.plans import ids

    ids.release_id_caches()
    df = spark.createDataFrame([(u, t) for u in (1, 2) for t in range(5)], "user_id long, t long")
    a = dense_id_by_user(df, order_by=["t"], id_col="id")
    b = dense_id_by_user(df, order_by=["t"], id_col="id")
    assert sorted(a.collect()) == sorted(b.collect())
    for _ in range(2):
        ids.persist_owned(spark.range(10).selectExpr("id * 2 AS v"))
    assert len(ids._ID_CACHES) == 2
    assert ids.release_id_caches() == 2


def test_concurrent_generate_trips_then_release(spark):
    """Two threads register caches and release them concurrently; the
    registry stays consistent and nothing stays pinned."""
    import threading

    from tests.test_trips import _basic
    from trackintel_spark.operators import generate_trips
    from trackintel_spark.plans import ids

    ids.release_id_caches()
    before = _pinned_ids(spark)
    sp, tpls = _basic(spark)
    done = threading.Barrier(2)
    results, errors = [], []

    def work(gap):
        try:
            outs = generate_trips(sp, tpls, gap_threshold=gap)
            results.append([o.count() for o in outs])
            done.wait(timeout=300)
            ids.release_id_caches()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(g,)) for g in (15, 60)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(results) == 2
    assert ids._ID_CACHES == []
    assert _pinned_ids(spark) <= before


def test_dense_id_partition_invariance(spark):
    data = [(u % 5, u * 7 % 13) for u in range(100)]
    df = spark.createDataFrame(data, "user_id long, t long").withColumn(
        "t", F.col("t") + F.monotonically_increasing_id() % 3
    )
    a = {tuple(r) for r in dense_id_by_user(df.repartition(1), ["t", "user_id"], "id").collect()}
    b = {tuple(r) for r in dense_id_by_user(df.repartition(17), ["t", "user_id"], "id").collect()}
    assert a == b


def test_write_bucketed_by_user(spark, tmp_path):
    df = spark.createDataFrame(
        [(i % 3, i, f"2024-01-0{1 + i % 5}") for i in range(30)],
        "user_id long, v long, d string",
    ).select("user_id", "v", F.to_timestamp("d").alias("tracked_at"))
    write_bucketed_by_user(df, "t_bucketed", num_buckets=4)
    back = spark.table("t_bucketed")
    assert back.count() == 30
    # bucketed table: a groupBy on user_id plans without an Exchange
    plan = back.groupBy("user_id").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    spark.sql("DROP TABLE t_bucketed")


def test_dense_rank_ordered_matches_global_rank(spark):
    from pyspark.sql import functions as F

    from trackintel_spark.plans.ids import dense_rank_ordered

    vals = [37, 2, 99, 2, 5, 41, 41, 8, 13, 0, 99, 7]
    df = spark.createDataFrame([(v,) for v in vals], "lbl long")
    got = {r.lbl: r.dense_id for r in dense_rank_ordered(df, "lbl").collect()}
    expected = {v: i for i, v in enumerate(sorted(set(vals)))}
    assert got == expected


def test_dense_rank_ordered_empty(spark):
    df = spark.createDataFrame([], "lbl long")
    from trackintel_spark.plans.ids import dense_rank_ordered

    assert dense_rank_ordered(df, "lbl").count() == 0


def test_sql_double_renders_typed_literal(spark):
    import math

    import pytest

    from trackintel_spark.plans.literals import sql_double

    assert sql_double(1800.0) == "1800.0D"
    assert sql_double(30) == "30.0D"  # ints render as doubles
    # shortest-repr round-trip: the rendered literal re-parses bit-equal
    v = 0.1 + 0.2
    assert float(sql_double(v)[:-1]) == v
    # Spark parses it as a DOUBLE literal (no decimal promotion in the plan)
    row = spark.sql(f"SELECT {sql_double(1800.0)} AS x").schema["x"]
    assert row.dataType.typeName() == "double"
    for bad in (math.inf, -math.inf, math.nan):
        with pytest.raises(ValueError):
            sql_double(bad)
