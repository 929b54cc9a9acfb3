"""generate_triplegs — segment positionfixes between staypoints into legs.

Reference: trackintel ``generate_triplegs`` (preprocessing/
positionfixes.py:187-414). Unlike staypoint detection, this is fully
vectorizable: the reference uses shift/ffill/searchsorted; we use lag()
+ running-sum window segmentation — zero Python, whole-stage codegen,
one shuffle on user_id.

Driver-cost note (r12): projection layers are batched into single
``selectExpr`` calls (SQL strings) — the Column-object form cost
hundreds of py4j round trips per call, which dominated the operator's
wall time at bench scale (see trips.py note). Logic and output are
unchanged (oracle-pinned).

Semantics reproduced:
* new-leg triggers (reference :307-330): user change, temporal gap >
  gap_threshold, staypoint-membership change — all masked to rows that
  are not inside a staypoint;
* legs with <2 positionfixes are invalid: their pfs get NULL tripleg_id
  and no leg row is emitted (:368-372);
* a leg's geometry is the time-ordered LineString of its member pfs
  (:386-391); ``started_at``/``finished_at`` = min/max tracked_at;
* geometrically invalid legs (all vertices identical — zero-extent
  LineString) are dropped and their pfs unlinked (:398,
  ``_drop_invalid_triplegs`` :582-619);
* leg ids are dense 0..n-1 in (user_id, started_at) order (:376 over
  the (user_id, tracked_at)-sorted frame);
* case 2 (staypoints given but pfs lack ``staypoint_id``): member pfs
  are matched into staypoint [started_at, finished_at) intervals via an
  interval join (:268-300).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trackintel_spark.model.schemas import validate
from trackintel_spark.plans.ids import dense_id_by_user
from trackintel_spark.plans.literals import sql_double


def _match_pfs_to_staypoint_intervals(pfs: DataFrame, sp: DataFrame) -> DataFrame:
    """Case-2 preprocessing (preprocessing/positionfixes.py:268-300):
    tag pfs whose tracked_at falls in a staypoint's [started_at,
    finished_at) with that staypoint's id, per user.

    Implemented as a time-bucketed interval join: both sides are binned
    to coarse buckets so the join is an equi-join on (user_id, bucket)
    plus a residual range predicate — avoids the O(n_pfs * n_sp)
    cross product a naive theta-join would produce.
    """
    bucket_s = 6 * 3600  # 6h buckets: staypoints are minutes-to-hours long
    b = lambda c: (c.cast("long") / bucket_s).cast("long")  # noqa: E731

    sp_i = sp.select(
        F.col("user_id").alias("__sp_user"),
        F.col("id").alias("__sp_id"),
        F.col("started_at").alias("__sp_start"),
        F.col("finished_at").alias("__sp_end"),
        F.explode(F.sequence(b(F.col("started_at")), b(F.col("finished_at")))).alias("__bucket"),
    )
    pfs_b = pfs.withColumn("__bucket", b(F.col("tracked_at")))
    joined = pfs_b.join(
        sp_i,
        on=(
            (pfs_b["user_id"] == sp_i["__sp_user"])
            & (pfs_b["__bucket"] == sp_i["__bucket"])
            & (pfs_b["tracked_at"] >= sp_i["__sp_start"])
            & (pfs_b["tracked_at"] < sp_i["__sp_end"])
        ),
        how="left",
    )
    # a pf can only fall into one staypoint of its user (non-overlapping
    # by construction) — but guard with min() for safety.
    keys = [c for c in pfs.columns]
    return (
        joined.groupBy(*keys)
        .agg(F.min("__sp_id").alias("staypoint_id"))
        .select(*keys, "staypoint_id")
    )


def generate_triplegs(
    pfs: DataFrame,
    staypoints: DataFrame | None = None,
    method: str = "between_staypoints",
    gap_threshold: float = 15.0,
) -> tuple[DataFrame, DataFrame]:
    """Segment pfs into triplegs; returns (pfs+tripleg_id, tpls)."""
    validate(pfs, "positionfixes")
    if method not in ("between_staypoints", "overlap_staypoints"):
        raise ValueError(
            f"Method unknown. We only support 'between_staypoints' and 'overlap_staypoints'. You passed {method}"
        )

    staypoints_exist = "staypoint_id" in pfs.columns
    if method == "overlap_staypoints":
        # reference preconditions (:254-258)
        if staypoints is None:
            raise TypeError("staypoints input must be provided for overlap_staypoints method.")
        if not staypoints_exist:
            raise TypeError("positionfixes must contain a staypoint_id column for overlap_staypoints method.")
    if not staypoints_exist:
        if staypoints is None:
            raise TypeError("staypoints input must be provided for pfs without staypoint_id column.")
        validate(staypoints, "staypoints")
        pfs = _match_pfs_to_staypoint_intervals(pfs, staypoints)

    if "tripleg_id" in pfs.columns:
        pfs = pfs.drop("tripleg_id")

    _W = "OVER (PARTITION BY user_id ORDER BY tracked_at, id)"
    gap_sql = f"CAST(tracked_at AS double) - CAST(__prev_ts AS double) > {sql_double(gap_threshold * 60.0)}"

    # stage 1: lag-based raw signals (window functions can't nest, so
    # materialize these before the running sum); stage 2: triggers +
    # boundary; stage 3: running sum — each ONE selectExpr layer.
    seg = pfs.selectExpr(
        "*",
        f"lag(tracked_at) {_W} AS __prev_ts",
        f"lag(staypoint_id) {_W} AS __prev_sp",
        f"row_number() {_W} = 1 AS __first",
    ).selectExpr(
        "*",
        # staypoint-membership change: NULL-safe inequality with the
        # previous row (reference cond_stp via the +1/fillna(0) diff
        # trick, :316-320 — true on the first row of each user).
        "NOT (staypoint_id <=> __prev_sp) OR __first AS __sp_change",
        f"coalesce({gap_sql}, false) AS __gap",
    ).selectExpr(
        "*",
        # leg trigger & segment boundary: a leg start OR entering a (new)
        # staypoint — the running sum of boundaries gives each leg /
        # staypoint-block its own segment id, which bounds leg length
        # exactly like the reference's searchsorted bookkeeping (:332-366).
        "(__first OR __gap OR __sp_change) AND staypoint_id IS NULL AS __leg_trigger",
    ).selectExpr(
        "*",
        "__leg_trigger OR (staypoint_id IS NOT NULL AND __sp_change) AS __boundary",
    ).selectExpr(
        "*",
        f"sum(CAST(__boundary AS long)) {_W} AS __seg",
    ).drop("__prev_ts", "__prev_sp", "__first", "__sp_change", "__boundary")

    # per-segment stats land in the SAME aggregation that builds the leg
    # geometry (r12): the previous shape computed them with an unordered
    # window over (user_id, __seg) — a second full sort of the pfs table
    # (sorted (user, time) does not satisfy (user, seg) for Spark even
    # though __seg is monotone in it). A segment is homogeneous by
    # construction — every staypoint-membership change is a __boundary —
    # so the row-level ~is_sp of the old __valid_leg is a per-segment
    # constant and the filter moves after the aggregation unchanged;
    # staypoint blocks contribute NULL to the conditional collect_list
    # (collect_list skips NULLs), so geometry arrays only materialize
    # for leg segments.
    legs = (
        seg.groupBy("user_id", "__seg")
        .agg(
            F.expr("min(tracked_at) AS started_at"),
            F.expr("max(tracked_at) AS finished_at"),
            F.expr("count(1) AS __seg_n"),
            F.expr("max(CAST(__leg_trigger AS int)) AS __is_leg_i"),
            F.expr("max(CASE WHEN staypoint_id IS NULL THEN 0 ELSE 1 END) AS __has_sp"),
            F.expr(
                "array_sort(collect_list(CASE WHEN staypoint_id IS NULL"
                " THEN struct(tracked_at AS t, id AS i, geom AS p) END)) AS __pts"
            ),
        )
        # valid legs have >=2 member pfs (:368-372)
        .filter("__is_leg_i = 1 AND __seg_n >= 2 AND __has_sp = 0")
        .drop("__seg_n", "__is_leg_i", "__has_sp")
        .selectExpr(
            "*",
            "transform(__pts, s -> s.p) AS geom",
        )
        .selectExpr("*", "size(array_distinct(geom)) AS __distinct_pts")
        # __pts is consumed above; dropping it here keeps the member
        # struct array (t, i, p per pf) out of the id-assignment
        # exchange and the legs cache — geom alone is half the bytes
        .drop("__pts")
    )

    # ids are assigned BEFORE the geometric-validity drop, matching the
    # reference order (arange at :376, invalid rows dropped at :398) —
    # surviving ids keep their numbers, so the sequence may have holes.
    legs = dense_id_by_user(legs, order_by=["started_at"], id_col="id")
    # zero-extent LineStrings are invalid (shapely is_valid=False,
    # _drop_invalid_triplegs :582-619): need >=2 distinct vertices.
    legs = legs.filter(F.col("__distinct_pts") >= 2)

    tpls = legs.select("id", "user_id", "started_at", "finished_at", "geom")

    link = legs.selectExpr("user_id AS __lu", "__seg", "id AS tripleg_id")
    pfs_out = (
        seg.join(
            link,
            on=((seg["user_id"] == link["__lu"]) & (seg["__seg"] == link["__seg"])),
            how="left",
        )
        .drop("__lu", "__seg", "__leg_trigger", "__seg_n", "__is_leg", "__valid_leg")
    )

    if method == "overlap_staypoints":
        return _overlap_staypoints(pfs_out, staypoints)

    pfs_out = pfs_out.drop("__gap")
    if not staypoints_exist:
        pfs_out = pfs_out.drop("staypoint_id")

    return pfs_out, tpls


def _overlap_staypoints(pfs_between: DataFrame, staypoints: DataFrame) -> tuple[DataFrame, DataFrame]:
    """overlap_staypoints variant (reference
    _generate_triplegs_overlap_staypoints, preprocessing/
    positionfixes.py:417-475): triplegs share endpoint coordinates with
    their bounding staypoints.

    * temporal extension (:449-455): a staypoint's FIRST pf joins the
      PRECEDING leg unless a recording gap sits between — so
      ``finished_at`` = first pf of the following staypoint;
      ``started_at`` stays the first pf after the previous staypoint;
    * spatial extension (:457-462): a staypoint's pf also joins the
      FOLLOWING leg (when no gap follows) so geometries overlap; member
      pfs inside staypoints contribute the STAYPOINT geometry (:464-468).
    """
    w = Window.partitionBy("user_id").orderBy("tracked_at", "id")
    x = (
        pfs_between.withColumn("__prev_tpl", F.lag("tripleg_id").over(w))
        .withColumn("__next_tpl", F.lead("tripleg_id").over(w))
        .withColumn("__first", F.row_number().over(w) == 1)
        .withColumn("__next_gap", F.coalesce(F.lead("__gap").over(w), F.lit(False)))
    )
    is_sp = F.col("staypoint_id").isNotNull()
    overlap = ~F.col("__first") & is_sp

    tpl_time = F.when(
        overlap & ~F.col("__gap") & F.col("tripleg_id").isNull(), F.col("__prev_tpl")
    ).otherwise(F.col("tripleg_id"))
    x = x.withColumn("__tpl_time", tpl_time)
    tpl_geom = F.when(F.col("__tpl_time").isNotNull(), F.col("__tpl_time")).when(
        overlap & ~F.col("__next_gap"), F.col("__next_tpl")
    )
    x = x.withColumn("__tpl_geom", tpl_geom)

    times = (
        x.filter(F.col("__tpl_time").isNotNull())
        .groupBy("__tpl_time")
        .agg(
            F.first("user_id").alias("user_id"),
            F.min("tracked_at").alias("started_at"),
            F.max("tracked_at").alias("finished_at"),
        )
        .withColumnRenamed("__tpl_time", "id")
    )

    # member pfs inside staypoints contribute the staypoint geometry
    sp_geom = staypoints.select(F.col("id").alias("staypoint_id"), F.col("geom").alias("__sp_geom"))
    geoms = (
        x.filter(F.col("__tpl_geom").isNotNull())
        .join(sp_geom, on="staypoint_id", how="left")
        .withColumn("__pt", F.when(is_sp, F.col("__sp_geom")).otherwise(F.col("geom")))
        .groupBy("__tpl_geom")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("tracked_at").alias("t"), F.col("id").alias("i"), F.col("__pt").alias("p")))
            ).alias("__pts")
        )
        .select(
            F.col("__tpl_geom").alias("id"),
            F.transform("__pts", lambda s: s["p"]).alias("geom"),
        )
    )
    tpls = times.join(geoms, on="id", how="inner").filter(
        F.size(F.array_distinct("geom")) >= 2
    ).select("id", "user_id", "started_at", "finished_at", "geom")

    pfs_out = x.withColumn("tripleg_id", F.col("__tpl_geom")).drop(
        "__prev_tpl", "__next_tpl", "__first", "__next_gap", "__tpl_time", "__tpl_geom", "__gap"
    )
    return pfs_out, tpls
