"""Physical-plan regression tests.

Correctness tests prove values; these prove the PLANS stay
scale-shaped: filters and projections reach the parquet scan, bucketed
candidate joins stay equi-joins (never cartesian), small sides
broadcast. A refactor that silently degrades a join strategy fails
here, not at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from trackintel_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _physical_nodes(df) -> list:
    """Every node of ``df``'s executed plan, each once by plan id. The
    walk goes into the current plan of adaptive nodes and query stages
    and into the cached plan of in-memory scans, where a printed plan
    lists every subplan's initial and final form."""
    found = {}

    def walk(node):
        cls = node.getClass().getSimpleName()
        found[node.id()] = node
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        elif cls == "ReusedExchangeExec":
            walk(node.child())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return list(found.values())


def _shuffles(df) -> list[str]:
    """The physical shuffles ``df``'s plan runs, sorted: each
    ``ShuffleExchangeExec`` once, however many cached or adaptive plans
    contain it. Each is its output partitioning without expression ids
    or partition count, e.g. ``hashpartitioning(user_id)``."""
    return sorted(
        re.sub(r"#\d+L?|, \d+(?=\)$)", "", node.outputPartitioning().toString())
        for node in _physical_nodes(df)
        if node.getClass().getSimpleName() == "ShuffleExchangeExec"
    )


def test_tpch_q1_scan_prunes_and_pushes(spark):
    li = load_table(spark, SF, "lineitem")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("2024-06-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 3 referenced columns
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in rs and "l_quantity" in rs and "l_extendedprice" not in rs


def test_minhash_lsh_join_is_equi_not_cartesian(spark):
    from trackintel_spark.scale import minhash_lsh_candidates

    docs = load_table(spark, SF, "documents")
    plan = _plan(minhash_lsh_candidates(docs, num_perm=16, bands=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_ngram_jaccard_prefix_join_is_equi_not_cartesian(spark):
    """The no-candidates set-similarity join must stay an equi-join on
    the prefix token — never a cross join — and the exploded join input
    must be the PREFIX slice, not the full shingle set."""
    from trackintel_spark.scale import ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents")
    plan = _plan(ngram_jaccard_pairs(docs, n=3, threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "slice(" in plan  # prefix slice feeds the explode


def test_lsh_topk_bucket_join_broadcasts_queries(spark):
    from trackintel_spark.scale import lsh_bucketed_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(lsh_bucketed_topk(emb, q, k=3, n_planes=6, dim=64))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_embedding_banded_join_is_equi(spark):
    """The self-join key must be the direction-projection CELL (a
    concat of floor'd normalized projections) — never a norm band
    (which prunes nothing on unit-norm embeddings) and never a cross
    join."""
    from trackintel_spark.scale import dedup_embedding_cosine

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(dedup_embedding_cosine(emb, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "concat_ws" in plan  # composite projection-cell key
    assert "FLOOR" in plan or "floor" in plan


def test_spatial_filter_broadcasts_areas(spark):
    from trackintel_spark.geogr import spatial_filter

    pts = spark.createDataFrame([(0, 8.5, 47.4)], "id long, lon double, lat double").select(
        "id", F.struct("lon", "lat").alias("geom")
    )
    areas = spark.createDataFrame(
        [(0, [(8.0, 47.0), (9.0, 47.0), (9.0, 48.0), (8.0, 48.0)])],
        "area_id long, polygon array<struct<lon double, lat double>>",
    )
    plan = _plan(spatial_filter(pts, areas, method="within"))
    assert "Broadcast" in plan


def test_staypoint_kernel_reads_one_user_exchange(spark):
    """generate_staypoints runs its per-user sliding kernel behind the
    operator's one user_id exchange: the duplicate drop and the kernel
    groupBy add no shuffle, and the id pass adds its one range shuffle."""
    from trackintel_spark.operators import generate_staypoints

    ev = load_table(spark, SF, "events")
    pfs = ev.select(
        F.col("event_id").alias("id"), "user_id", F.col("ts").alias("tracked_at"),
        F.struct((8.5 + F.col("value") % 3 * 0.05).alias("lon"), F.lit(47.4).alias("lat")).alias("geom"),
    )
    _, sp = generate_staypoints(pfs, dist_threshold=200, time_threshold=5, gap_threshold=120)
    assert _shuffles(sp.select("id")) == [
        "hashpartitioning(user_id)",
        "rangepartitioning(user_id ASC NULLS FIRST, started_at ASC NULLS FIRST)",
    ]


def test_tripleg_kernel_reads_one_user_exchange(spark):
    """The per-user tripleg kernel reads the operator's single hash
    exchange on user_id; nothing re-shuffles the pfs on the way, and
    the id pass adds its one range shuffle."""
    from trackintel_spark.operators import generate_triplegs

    ev = load_table(spark, SF, "events")
    pfs = ev.select(
        F.col("event_id").alias("id"), "user_id", F.col("ts").alias("tracked_at"),
        F.struct(F.lit(8.5).alias("lon"), F.lit(47.4).alias("lat")).alias("geom"),
        F.lit(None).cast("long").alias("staypoint_id"),
    )
    _, tpls = generate_triplegs(pfs, gap_threshold=30)
    assert _shuffles(tpls.select("id")) == [
        "hashpartitioning(user_id)",
        "rangepartitioning(user_id ASC NULLS FIRST, start_us ASC NULLS FIRST)",
    ]


def test_locations_kernel_reads_one_user_exchange(spark):
    """generate_locations: one user_id shuffle into the per-user DBSCAN
    kernel and one range shuffle for the ids. The staypoints output
    adds one more user_id shuffle: the link-back join's staypoint side
    re-runs the operator's repartition outside the caches."""
    from trackintel_spark.operators import generate_locations

    ev = load_table(spark, SF, "events")
    sp = ev.select(
        F.col("event_id").alias("id"), "user_id", F.col("ts").alias("started_at"),
        (F.col("ts") + F.expr("interval 10 minutes")).alias("finished_at"),
        F.struct((8.5 + F.col("value") % 10 * 0.001).alias("lon"),
                 (47.4 + F.col("value") % 7 * 0.001).alias("lat")).alias("geom"),
    )
    sp_out, locs = generate_locations(sp, epsilon=100, num_samples=2)
    ids = "rangepartitioning(user_id ASC NULLS FIRST, label ASC NULLS FIRST)"
    assert _shuffles(locs) == ["hashpartitioning(user_id)", ids]
    assert _shuffles(sp_out) == ["hashpartitioning(user_id)", "hashpartitioning(user_id)", ids]


def test_tours_kernel_reads_one_user_exchange(spark):
    """generate_tours runs its per-user kernel behind the one user_id
    exchange: no window and no exchange keyed on anything but user_id
    before the kernel, then the id pass's range shuffle."""
    import datetime as dt

    from trackintel_spark.operators.tours import generate_tours

    ts = lambda m: dt.datetime(2023, 1, 1) + dt.timedelta(minutes=m)  # noqa: E731
    trips = spark.createDataFrame(
        [
            (u * 10 + i, u, ts(i * 60), ts(i * 60 + 30), u * 10 + i, u * 10 + i + 1,
             {"origin": {"lon": 8.5, "lat": 47.4}, "dest": {"lon": 8.5, "lat": 47.4}})
            for u in (1, 2) for i in range(4)
        ],
        "id long, user_id long, started_at timestamp, finished_at timestamp, "
        "origin_staypoint_id long, destination_staypoint_id long, "
        "geom struct<origin:struct<lon:double,lat:double>,dest:struct<lon:double,lat:double>>",
    )
    trips_out, tours = generate_tours(trips)
    assert _shuffles(tours) == [
        "hashpartitioning(user_id)",
        "rangepartitioning(user_id ASC NULLS FIRST, seq ASC NULLS FIRST)",
    ]
    for out in (trips_out, tours):
        names = {n.getClass().getSimpleName() for n in _physical_nodes(out)}
        assert not any("Window" in n for n in names), names
        assert not any("__session" in s for s in _shuffles(out))


def test_distance_matrix_band_prefilter_before_trig(spark):
    from trackintel_spark.geogr import calculate_distance_matrix

    pts = spark.createDataFrame([(0, 8.5, 47.4), (1, 8.6, 47.5)], "id long, lon double, lat double").select(
        "id", F.struct("lon", "lat").alias("geom")
    )
    plan = _plan(calculate_distance_matrix(pts, dist_threshold=1000.0))
    # the cheap band predicate must sit in the join condition (evaluated
    # during the pair enumeration), not in a filter after materializing
    # all pairs
    join_lines = [l for l in plan.splitlines() if "Join" in l or "CartesianProduct" in l]
    assert any("abs(" in l for l in join_lines), join_lines


def test_locations_grid_has_no_data_sized_global_window(spark):
    """Grid-cell labeling must rank via the range-partitioned two-phase
    scheme: the only SinglePartition exchange allowed is the per-range
    offset table (one row per partition), never the cell table itself."""
    from trackintel_spark.operators.locations import generate_locations_grid

    ev = load_table(spark, SF, "events")
    sp = ev.select(
        F.col("event_id").alias("id"), "user_id",
        F.col("ts").alias("started_at"),
        (F.col("ts") + F.expr("interval 10 minutes")).alias("finished_at"),
        F.struct((8.5 + F.col("value") % 10 * 0.001).alias("lon"),
                 (47.4 + F.col("value") % 7 * 0.001).alias("lat")).alias("geom"),
    )
    sp_out, _ = generate_locations_grid(sp, cell_size_m=100)
    plan = _plan(sp_out.select("id", "location_id"))
    # a global Window over the distinct cells would show as a Window node
    # fed by Exchange SinglePartition over the cell scan; the two-phase
    # scheme feeds windows from hashpartitioning(__p) instead
    for i, line in enumerate(plan.splitlines()):
        if "Window" in line and "windowspecdefinition" in line.lower():
            ctx = "\n".join(plan.splitlines()[i : i + 6])
            assert "SinglePartition" not in ctx or "count(1)" in ctx or "__tot" in ctx, ctx
    assert "rangepartitioning" in plan.replace(" ", "").lower(), plan[:1500]


# -- forced-broadcast audit ---------------------------------------------------
#
# A forced F.broadcast on a side that grows with the data (staypoints,
# per-user aggregates, per-label offsets) bypasses Spark's size check and
# dies in driver OOM at 100x scale. These tests pin the number of
# ResolvedHint nodes in each operator's ANALYZED plan to ZERO: id
# assignment uses the join-free zipWithIndex scheme (plans/ids.py), so
# none of these operators needs any broadcast at all. Adding a forced
# broadcast anywhere raises the count and fails here.


def _hints(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def _mk_sp_loc(spark, n=6):
    import datetime as dt

    ts = lambda m: dt.datetime(2023, 1, 1) + dt.timedelta(minutes=m)  # noqa: E731
    return spark.createDataFrame(
        [(i, 1, ts(i * 60), ts(i * 60 + 30), i % 3, {"lon": 8.5 + i * 1e-4, "lat": 47.4}) for i in range(n)],
        "id long, user_id long, started_at timestamp, finished_at timestamp, "
        "location_id long, geom struct<lon:double,lat:double>",
    )


def test_tours_no_forced_broadcast_of_staypoints(spark):
    import datetime as dt

    from trackintel_spark.operators.tours import generate_tours

    ts = lambda m: dt.datetime(2023, 1, 1) + dt.timedelta(minutes=m)  # noqa: E731
    sp = _mk_sp_loc(spark)
    trips = spark.createDataFrame(
        [(i, 1, ts(i * 60 + 30), ts(i * 60 + 60), i, i + 1) for i in range(5)],
        "id long, user_id long, started_at timestamp, finished_at timestamp, "
        "origin_staypoint_id long, destination_staypoint_id long",
    )
    t2, tours = generate_tours(trips, sp)
    assert _hints(t2) == 0 and _hints(tours) == 0


def test_triplegs_overlap_no_forced_broadcast_of_staypoints(spark):
    import datetime as dt

    from trackintel_spark.operators.triplegs import generate_triplegs

    ts = lambda s: dt.datetime(2023, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    pfs = spark.createDataFrame(
        [(i, 1, ts(i * 60), {"lon": 8.5 + i * 1e-3, "lat": 47.4}, i // 3 if i % 3 == 0 else None) for i in range(9)],
        "id long, user_id long, tracked_at timestamp, geom struct<lon:double,lat:double>, staypoint_id long",
    )
    sp = _mk_sp_loc(spark)
    _, tpls = generate_triplegs(pfs, sp, method="overlap_staypoints")
    assert _hints(tpls) == 0


def test_radius_gyration_no_forced_broadcast_of_user_centers(spark):
    from trackintel_spark.analysis.metrics import radius_gyration

    assert _hints(radius_gyration(_mk_sp_loc(spark))) == 0


def test_pre_filter_no_forced_broadcast_of_user_aggregates(spark):
    from trackintel_spark.analysis.location_identification import pre_filter_locations

    out = pre_filter_locations(
        _mk_sp_loc(spark), thresh_sp=1, thresh_loc=1, thresh_sp_at_loc=1, thresh_loc_time=0, thresh_loc_period=0
    )
    assert _hints(out) == 0


def test_generate_locations_user_offsets_not_broadcast(spark):
    from trackintel_spark.operators.locations import generate_locations

    spo, locs = generate_locations(_mk_sp_loc(spark).drop("location_id"), epsilon=100, num_samples=1, agg_level="user")
    assert _hints(spo) == 0 and _hints(locs) == 0


def test_dense_id_by_user_offsets_are_range_partitioned(spark):
    """Id assignment must be the zipWithIndex scheme: one range
    exchange, in-partition positions taken in the sorted pass, literal
    base map — no window re-shuffling the cache, no joins, no
    broadcasts, no SinglePartition exchange anywhere."""
    from trackintel_spark.plans.ids import dense_id_by_user

    out = dense_id_by_user(_mk_sp_loc(spark).drop("id"), order_by=["started_at"])
    assert _hints(out) == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    # the cached subplan prints its AQE final and initial plan: dedupe
    # the exchanges they both list by description, not by plan id
    exchanges = {
        re.sub(r"\[plan_id=\d+\]", "", l).strip(" +-") for l in plan.splitlines() if "Exchange " in l
    }
    assert len(exchanges) == 1, plan
    assert "rangepartitioning" in exchanges.pop().replace(" ", "").lower()


def test_lazy_chain_is_cache_backed_and_grows_linearly(spark, tmp_path):
    """pfs -> staypoints -> triplegs -> activity flag -> trips -> tours,
    fully lazy over one Parquet scan: each operator input references at
    most one more leaf than the one before it, and every leaf of the
    trips and tours outputs, once caches are substituted, is a cache."""
    from tools.scale_probe import mobility_input
    from trackintel_spark.analysis import create_activity_flag
    from trackintel_spark.operators import generate_staypoints, generate_tours, generate_trips, generate_triplegs

    mobility_input(spark, 4000, pfs_per_user=1000).write.parquet(str(tmp_path / "pfs"))
    pfs, sp = generate_staypoints(
        spark.read.parquet(str(tmp_path / "pfs")), dist_threshold=100, time_threshold=5, gap_threshold=120
    )
    _, tpls = generate_triplegs(pfs, sp)
    sp = create_activity_flag(sp, time_threshold=15)
    sp_t, tpls_t, trips = generate_trips(sp, tpls, gap_threshold=60)
    trips_t, tours = generate_tours(trips)

    def leaves(df, phase="analyzed"):
        ls = getattr(df._jdf.queryExecution(), phase)().collectLeaves()
        return [ls.apply(i).nodeName() for i in range(ls.size())]

    # the trips inputs (staypoints, triplegs) and the tours input (trips)
    assert [len(leaves(d)) for d in (sp, tpls, trips)] == [1, 2, 3]
    for out in (sp_t, tpls_t, trips, trips_t, tours):
        assert set(leaves(out, "withCachedData")) == {"InMemoryRelation"}
    assert tours.count() > 0


def test_dedup_exact_shuffles_on_digest_not_text(spark):
    """The exchange key must be md5(text), never the document text —
    multi-KB shuffle keys cost ~100x in hash/sort work."""
    from trackintel_spark.scale import dedup_exact

    docs = load_table(spark, SF, "documents")
    plan = _plan(dedup_exact(docs))
    ex_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex_lines and all("__k" in l and "text#" not in l.split("hashpartitioning")[1].split(")")[0] for l in ex_lines), ex_lines
    # both windows reuse the single digest-keyed exchange
    assert len(ex_lines) == 1, ex_lines


def test_asof_join_is_merge_scan_not_join(spark):
    """Single-direction asof must compile to union + window (one hash
    exchange per side of the scan), never any join operator — the whole
    point of the merge-scan design."""
    from trackintel_spark.operators import asof_join

    ev = load_table(spark, SF, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select("user_id", F.col("ts").alias("label_ts"), F.col("value").alias("label"))
    plan = _plan(asof_join(left, right, on="ts", by="user_id", right_on="label_ts"))
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    assert "Union" in plan and "Window" in plan

    # 'nearest' is ALSO join-free: one union (left + both right copies),
    # one sort, two window frames. The former design joined two
    # independently-evaluated monotonically_increasing_id columns — a
    # silent row-misalignment hazard under nondeterministic left plans.
    plan_n = _plan(
        asof_join(left, right, on="ts", by="user_id", right_on="label_ts", direction="nearest")
    )
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan_n, bad


def test_line_dedup_has_no_line_keyed_window(spark):
    """line_dedup must stay window-free (AQE cannot split window skew;
    a corpus-wide boilerplate line would funnel one task) — census via
    aggregation + join only, and never a cartesian."""
    from trackintel_spark.scale import line_dedup

    docs = load_table(spark, SF, "documents")
    plan = _plan(line_dedup(docs))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dedup_census_is_window_free(spark):
    from trackintel_spark.scale import chunk_dedup_fraction

    docs = load_table(spark, SF, "documents")
    plan = _plan(chunk_dedup_fraction(docs, window=10, stride=5))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_joins_on_cluster_only(spark):
    """The within-cluster pair join must be an equi-join on cluster_id,
    never a cross join; assignment stays map-side (no join before the
    rank window)."""
    from trackintel_spark.scale import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    centers = [[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]]
    plan = _plan(
        semantic_dedup(
            emb.withColumn("embedding", F.slice("embedding", 1, 8)),
            threshold=0.9,
            centers=centers,
            pair_mode="join",
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_prunes_before_shuffle_and_broadcasts_df(spark):
    """The arrays_overlap literal filter must sit on the scan side
    (before any exchange) and the per-term df side must broadcast."""
    from trackintel_spark.scale import bm25_search

    docs = load_table(spark, SF, "documents")
    plan = _plan(bm25_search(docs, "hash join", k=5))
    assert "arrays_overlap" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the prune appears below (= printed after) the first exchange in
    # the scan branch: cheap structural check — filter exists on a
    # FileScan branch
    scan_branch = plan.split("FileScan")[0]
    assert "arrays_overlap" in plan  # presence; detailed check above


def test_ivf_topk_untrained_assignment_is_map_side(spark):
    """The UNTRAINED ivf_topk default must behave like the trained path:
    centers come from a fixed-size hash-sample (bounded driver state),
    assignment is the map-side nearest_center_expr — so the plan has
    exactly ONE corpus scan (no corpus-derived centers branch), no
    corpus-sized broadcast, and no N x C max_by combine aggregation."""
    from trackintel_spark.scale import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    q = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [0.5] * 64)], "query_id long, embedding array<double>"
    )
    plan = _plan(ivf_topk(emb, q, k=3, n_centers=4, n_probe=2))
    assert plan.count("Scan parquet") == 1  # corpus only; centers are literals
    assert "max_by" not in plan  # no N x C assignment aggregation
    assert "CartesianProduct" not in plan
    # the only nested-loop join is queries x literal centers (bounded)
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_dedup_embedding_lsh_mode_is_bucket_equi_join(spark):
    """method='lsh' must candidate-join on the sign-bucket string —
    never a cartesian/nested-loop — like the exact projection-cell
    path."""
    from trackintel_spark.scale import dedup_embedding_cosine

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(dedup_embedding_cosine(emb, threshold=0.9, method="lsh", n_planes=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_has_no_unbounded_following_frame(spark):
    """Spark evaluates a [current, unboundedFollowing] window frame by
    re-scanning the remaining frame per row — O(group^2), measured 10x
    the backward scan at 40M rows. The nearest direction must express
    its forward match as a RUNNING frame over the reversed sort."""
    from trackintel_spark.operators import asof_join

    ev = load_table(spark, SF, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select("user_id", F.col("ts").alias("label_ts"), F.col("value").alias("label"))
    plan = _plan(
        asof_join(left, right, on="ts", by="user_id", right_on="label_ts", direction="nearest")
    )
    assert "unboundedfollowing" not in plan.lower()


def test_bucketed_table_elides_user_exchange(spark):
    """SCALE.md claims persisting entity tables bucketed by user_id
    removes the dominant shuffle from every per-user stage — prove it:
    a user_id window AND a user_id groupBy over the bucketed table must
    plan with NO hash exchange on user_id, while the same operator over
    the unbucketed frame does exchange."""
    from pyspark.sql import Window

    from trackintel_spark.plans.partitioning import write_bucketed_by_user

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("tracked_at"),
        (F.col("id") * 1.0).alias("v"),
    )
    name = "t_bucketing_pin"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        write_bucketed_by_user(df, name, num_buckets=8)
        t = spark.table(name)
        w = Window.partitionBy("user_id").orderBy("tracked_at")
        win_plan = _plan(t.withColumn("prev", F.lag("v").over(w)))
        assert "Exchange hashpartitioning(user_id" not in win_plan, win_plan
        agg_plan = _plan(t.groupBy("user_id").agg(F.sum("v").alias("s")))
        assert "Exchange hashpartitioning(user_id" not in agg_plan, agg_plan
        assert "Bucketed: true" in win_plan
        # contrast: the unbucketed source pays the exchange
        plain = _plan(df.withColumn("prev", F.lag("v").over(w)))
        assert "Exchange hashpartitioning(user_id" in plain
        # and values survive the bucketed round-trip
        assert t.count() == 1000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_locations_static_side_broadcasts(spark):
    """locations_stream_exact's candidate join must broadcast the
    (small) trained-centers side and pay exactly ONE user_id exchange —
    the one the stateful groupBy requires. A shuffled static side would
    re-exchange the full staypoint stream per micro-batch."""
    from trackintel_spark.streaming.locations_state import locations_stream_exact

    sp = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("started_at"),
        F.struct((8.5 + (F.col("id") % 5) * 0.01).alias("lon"),
                 F.lit(47.4).alias("lat")).alias("geom"),
    )
    locs = spark.range(20).select(
        F.col("id"), (F.col("id") % 10).alias("user_id"),
        F.struct((8.5 + (F.col("id") % 5) * 0.01).alias("lon"),
                 F.lit(47.4).alias("lat")).alias("center"),
    )
    plan = _plan(locations_stream_exact(sp, locs))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_substring_dedup_is_window_and_kernel_free(spark):
    """dedup_substrings must plan as aggregations + equi-joins + codegen
    expressions: no Window over chunk groups (a corpus-wide boilerplate
    chunk would funnel one task), no cartesian, and no Python kernel
    (span merge + complement rebuild are aggregate/transform folds)."""
    from trackintel_spark.scale import dedup_substrings

    docs = load_table(spark, SF, "documents")
    plan = _plan(dedup_substrings(docs, window=10, stride=5))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_generic_bucketed_table_elides_doc_exchange(spark):
    """write_bucketed on doc_id: a doc_id groupBy over the bucketed
    documents table plans with no doc_id hash exchange — the LLM-side
    counterpart of the user_id bucketing pin."""
    from trackintel_spark.plans.partitioning import write_bucketed

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    name = "t_doc_bucketing_pin"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        write_bucketed(docs, name, ("doc_id",), num_buckets=8)
        t = spark.table(name)
        plan = _plan(t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
        assert "Exchange hashpartitioning(doc_id" not in plan, plan
        assert "Bucketed: true" in plan
        assert t.count() == docs.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_partitioned_bucketed_table_prunes_and_elides(spark):
    """partitionBy(event_date) + bucketBy(user_id) compose in one
    saveAsTable: an incremental daily job filtering one event_date must
    (a) prune every other date partition AT THE SCAN (PartitionFilters
    carries the date predicate) and (b) still plan its per-user window
    with zero user_id hash exchange. Bucketing removes the shuffle;
    partitioning removes the scan — this pin holds BOTH on one plan."""
    from pyspark.sql import Window

    from trackintel_spark.plans.partitioning import (
        with_event_date,
        write_bucketed_by_user,
    )

    df = with_event_date(
        spark.range(2000).select(
            (F.col("id") % 7).alias("user_id"),
            F.timestamp_seconds(F.col("id") * 3600).alias("tracked_at"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    n_dates = df.select("event_date").distinct().count()
    assert n_dates > 10  # multi-partition layout, pruning is non-vacuous
    name = "t_part_bucket_pin"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        write_bucketed_by_user(df, name, num_buckets=8, partition_cols=("event_date",))
        t = spark.table(name)
        one_day = df.select(F.min("event_date")).first()[0]
        w = Window.partitionBy("user_id").orderBy("tracked_at")
        daily = t.filter(F.col("event_date") == F.lit(one_day)).withColumn(
            "prev", F.lag("v").over(w)
        )
        plan = _plan(daily)
        # (a) the date predicate prunes at the scan, not post-read
        pf = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "event_date" in pf, plan
        # (b) no user_id exchange inside the day
        assert "Exchange hashpartitioning(user_id" not in plan, plan
        assert "Bucketed: true" in plan
        # and the pruned read returns exactly that day's rows
        assert daily.count() == df.filter(F.col("event_date") == F.lit(one_day)).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_asof_keyed_right_side_has_no_rank_exchange(spark):
    """The keyed merge-scan tie-breaks duplicate-timestamp right rows
    on the raw monotonic id (r10): the plan must carry exactly ONE
    hash exchange (the union's by-key shuffle) — a second exchange
    means the (key, t) rank window crept back in."""
    from trackintel_spark.operators import asof_join

    left = spark.range(100).selectExpr("id AS lid", "id % 7 AS k", "CAST(id AS DOUBLE) AS t")
    right = spark.range(50).selectExpr("id % 7 AS k", "CAST(id * 2 AS DOUBLE) AS t", "id AS rv")
    plan = _plan(asof_join(left, right, on="t", by="k"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan


def test_dsir_weights_ratio_table_broadcasts(spark):
    """The B-row micro-ratio table must broadcast onto the exploded
    features — a shuffled join on the bucket id would reshuffle the
    corpus by a 512-value key (murderous skew at scale)."""
    from trackintel_spark.scale import fit_ngram_model
    from trackintel_spark.scale.mixing import hashed_ngram_buckets

    docs = load_table(spark, SF, "documents")
    B = 64
    ratio = spark.createDataFrame([(b, b) for b in range(B)], "b long, rmicro long")
    feats = docs.select(
        "doc_id", F.explode_outer(hashed_ngram_buckets(F.col("text"), B, 2, hash_fn="md5")).alias("b")
    )
    out = (
        feats.join(F.broadcast(ratio), on="b", how="left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("rmicro", F.lit(0))).alias("lw"))
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_warc_frame_parse_is_map_only(spark):
    """parse_warc_frame must stay a pure map stage — record splitting
    is per-file work; any exchange before the kernel would shuffle
    gigabyte segment blobs."""
    from trackintel_spark.sources import parse_warc_frame

    body = b"HTTP/1.1 200 OK\r\n\r\nx"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://h/1\r\n"
        b"WARC-Date: d\r\nContent-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    frame = spark.createDataFrame([("s", bytearray(rec))], "path string, content binary")
    plan = _plan(parse_warc_frame(frame, record_types=["response"]))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan


def test_geolife_mode_match_is_banded_equi_join(spark):
    """The label-interval prefilter must stay an equi-join on
    (user, time bin) — never a pure-range cross join — and the argmax
    adds exactly one hash exchange."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["geolife_mode_match"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bpe_token_count_is_map_side_only(spark):
    """Tokenizer application is one Arrow projection over the scan —
    zero joins, zero exchanges (the 100-TB contract for scoring ops)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["bpe_token_count"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan
