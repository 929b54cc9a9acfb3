"""generate_trips — aggregate staypoints + triplegs into trips.

Reference: trackintel ``generate_trips`` (preprocessing/triplegs.py:12-232)
with ``_concat_staypoints_triplegs`` (:235-291) and
``_get_activity_masks`` (:294-315). Fully vectorized in the reference
(shift/ffill over an interleaved frame); here it is pure DataFrame ops —
unionByName + per-user windows + running sums. No Python kernel.

Driver-cost note (r12): expression construction is batched — each
projection layer is ONE ``selectExpr``/``withColumns`` call with SQL
strings instead of dozens of Column-object py4j round trips. Profiling
showed ~2,500 py4j commands (≈1.5 s of socket latency + eager
re-analysis) per call in the Column-chain form; the operator's logic
and output are unchanged (oracle-pinned).

Semantics reproduced:
* sp_tpls = staypoints ∪ triplegs per user ordered by started_at
  (:73, :290); staypoints must carry ``is_activity`` (:256-257);
* a new trip starts at: user change, the LAST activity of a consecutive
  activity block (:80, :294-315), or the row after a recording gap
  (started_at(next) - finished_at > gap_threshold, :84-85);
* trips aggregate the non-activity rows of each segment (:97-103);
  trips with no triplegs are dropped (:119) and ids re-counted densely
  (:122-123) in (user, time) order;
* origin/destination staypoint ids come from lag/lead over the
  interleaved sequence of trips + activity staypoints + synthetic gap
  buffer rows (:126-151). The reference also inserts user-change
  buffers; per-user windows make those redundant (lag/lead are NULL at
  partition boundaries by construction);
* trips that start/end at a gap get NULL origin/destination and, when
  ``add_geometry``, their endpoint imputed from the first/last
  coordinate of their first/last tripleg (:196-208); trip geometry is
  the (origin, destination) point pair (:210-212);
* staypoints receive ``trip_id``/``prev_trip_id``/``next_trip_id``,
  triplegs receive ``trip_id`` (:179-191).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trackintel_spark.model.schemas import validate
from trackintel_spark.plans.ids import dense_id_by_user, persist_owned
from trackintel_spark.plans.literals import sql_double

_PT_T = "struct<lon:double,lat:double>"


def generate_trips(
    staypoints: DataFrame,
    triplegs: DataFrame,
    gap_threshold: float = 15.0,
    add_geometry: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Generate trips; returns (sp+trip ids, tpls+trip_id, trips)."""
    validate(staypoints, "staypoints")
    validate(triplegs, "triplegs")
    if "is_activity" not in staypoints.columns:
        raise AttributeError("staypoints need the column 'is_activity' to be able to generate trips")

    gap_s = gap_threshold * 60.0

    # size-aware lineage boundary: this operator embeds each input in
    # several branches, so a chained upstream plan multiplies through —
    # truncate exactly when the duplicated re-scans outweigh one
    # materialization (plans/checkpoint.py; conf-tunable, no-op at
    # bench scale, pays off at probe/cluster scale like dbscan's flip).
    from trackintel_spark.plans.checkpoint import truncate_if_rescan_heavy

    staypoints = truncate_if_rescan_heavy(staypoints)
    triplegs = truncate_if_rescan_heavy(triplegs)

    sp_base = staypoints.drop(*[c for c in ("trip_id", "prev_trip_id", "next_trip_id") if c in staypoints.columns])
    tpls_base = triplegs.drop(*[c for c in ("trip_id",) if c in triplegs.columns])

    sp_part = sp_base.selectExpr(
        "user_id",
        "started_at",
        "finished_at",
        "'staypoint' AS type",
        "coalesce(is_activity, false) AS is_activity",
        "id AS sp_tpls_id",
        ("geom AS pt" if add_geometry else f"CAST(NULL AS {_PT_T}) AS pt"),
    )
    tpls_part = tpls_base.selectExpr(
        "user_id",
        "started_at",
        "finished_at",
        "'tripleg' AS type",
        "false AS is_activity",
        "id AS sp_tpls_id",
        f"CAST(NULL AS {_PT_T}) AS pt",
    )
    sp_tpls = sp_part.unionByName(tpls_part)

    # one ordered per-user window shared by every signal below
    _W = "OVER (PARTITION BY user_id ORDER BY started_at, type, sp_tpls_id)"

    staged = sp_tpls.selectExpr(
        "*",
        f"row_number() {_W} = 1 AS __first",
        f"lead(is_activity) {_W} AS __next_act",
        f"coalesce(CAST(lead(started_at) {_W} AS double) - CAST(finished_at AS double) > {sql_double(gap_s)}, false) AS __gap",
        f"row_number() {_W} AS __pos",
    ).selectExpr(
        "*",
        f"coalesce(lag(__gap) {_W}, false) AS __prev_gap",
    ).selectExpr(
        "*",
        # new-trip trigger (reference :77-87): user change | last activity
        # of a block | first row after a gap.
        "__first OR (is_activity AND NOT coalesce(__next_act, false)) OR __prev_gap AS __new_trip",
    ).selectExpr(
        "*",
        f"sum(CAST(__new_trip AS long)) {_W} AS __temp_trip",
    )

    # aggregate non-activity members per temp trip (:97-116)
    members = staged.filter("NOT is_activity")
    trips_raw = members.groupBy("user_id", "__temp_trip").agg(
        F.expr("min(started_at) AS started_at"),
        F.expr("max(finished_at) AS finished_at"),
        F.expr(
            "array_sort(collect_list(CASE WHEN type = 'staypoint'"
            " THEN struct(__pos AS o, sp_tpls_id AS i) END)) AS __sps"
        ),
        F.expr(
            "array_sort(collect_list(CASE WHEN type = 'tripleg'"
            " THEN struct(__pos AS o, sp_tpls_id AS i) END)) AS __tpls"
        ),
    ).withColumns(
        {
            "sps": F.expr("transform(__sps, s -> s.i)"),
            "tpls": F.expr("transform(__tpls, s -> s.i)"),
        }
    )
    # drop trips without triplegs (:119) and assign dense ids (:122-123);
    # the ordered member structs are consumed by sps/tpls above — drop
    # them BEFORE the id assignment so they never cross its exchange
    trips_raw = trips_raw.filter(F.size("tpls") > 0).drop("__sps", "__tpls")
    trips_raw = dense_id_by_user(trips_raw, order_by=["__temp_trip"], id_col="id")

    # interleave trips + activity staypoints + gap buffers (:126-146)
    trip_rows = trips_raw.selectExpr(
        "user_id",
        "started_at",
        "'trip' AS type",
        "CAST(NULL AS long) AS sp_tpls_id",
        "id AS trip_id",
        "false AS is_activity",
        f"CAST(NULL AS {_PT_T}) AS pt",
    )
    act_rows = staged.filter("is_activity AND type = 'staypoint'").selectExpr(
        "user_id",
        "started_at",
        "'staypoint' AS type",
        "sp_tpls_id",
        "CAST(NULL AS long) AS trip_id",
        "true AS is_activity",
        "pt",
    )
    gap_rows = staged.filter("__gap").selectExpr(
        "user_id",
        f"timestamp_seconds(CAST(finished_at AS double) + {sql_double(gap_s / 2.0)}) AS started_at",
        "'gap' AS type",
        "CAST(NULL AS long) AS sp_tpls_id",
        "CAST(NULL AS long) AS trip_id",
        "true AS is_activity",
        f"CAST(NULL AS {_PT_T}) AS pt",
    )
    inter = trip_rows.unionByName(act_rows).unionByName(gap_rows)

    inter = persist_owned(inter)
    inter = inter.selectExpr(
        "*",
        f"lag(sp_tpls_id) {_W} AS origin_staypoint_id",
        f"lead(sp_tpls_id) {_W} AS destination_staypoint_id",
        f"lag(pt) {_W} AS origin_pt",
        f"lead(pt) {_W} AS destination_pt",
        f"lag(trip_id) {_W} AS prev_trip_id",
        f"lead(trip_id) {_W} AS next_trip_id",
    )

    trips = (
        inter.filter("type = 'trip'")
        .selectExpr(
            "trip_id AS id",
            "user_id",
            "origin_staypoint_id",
            "destination_staypoint_id",
            "origin_pt",
            "destination_pt",
        )
        .join(
            trips_raw.select("id", "started_at", "finished_at", "sps", "tpls"),
            on="id",
            how="inner",
        )
    )

    if add_geometry:
        # impute missing endpoints from the first/last tripleg coordinate
        # (:196-208). ONE join against the tripleg geometry: each trip
        # probes with its first and its last member leg id (two exploded
        # probe rows), and the group-back picks the matching endpoint —
        # the tripleg table is scanned/joined once instead of twice.
        probes = trips.selectExpr(
            "id AS __tid",
            "explode(array(struct(true AS f, element_at(tpls, 1) AS g),"
            " struct(false AS f, element_at(tpls, -1) AS g))) AS __p",
        ).selectExpr("__tid", "__p.f AS __f", "__p.g AS __gid")
        tg = tpls_base.selectExpr("id AS __gid", "geom AS __tgeom")
        ends = (
            probes.join(tg, on="__gid", how="left")
            .groupBy("__tid")
            .agg(
                F.expr("max(CASE WHEN __f THEN element_at(__tgeom, 1) END) AS __first_pt"),
                F.expr("max(CASE WHEN NOT __f THEN element_at(__tgeom, -1) END) AS __last_pt"),
            )
        )
        trips = (
            trips.join(ends, trips["id"] == ends["__tid"], "left")
            .withColumns(
                {
                    "origin_pt": F.expr("coalesce(origin_pt, __first_pt)"),
                    "destination_pt": F.expr("coalesce(destination_pt, __last_pt)"),
                }
            )
            .withColumn(
                "geom",
                F.expr("struct(origin_pt AS origin, destination_pt AS dest)"),
            )
            .drop("__tid", "__first_pt", "__last_pt")
        )

    # trips feeds the final projection plus the tpls/sp link-backs —
    # persist the finished (small) trips table once.
    trips = persist_owned(trips)

    trips_out_cols = ["id", "user_id", "started_at", "finished_at", "origin_staypoint_id", "destination_staypoint_id"]
    if add_geometry:
        trips_out_cols.append("geom")
    trips_out = trips.select(*trips_out_cols)

    # link back: tpls.trip_id (:181), sp.trip_id + prev/next (:183-191)
    tpl_links = trips.selectExpr("id AS trip_id", "explode(tpls) AS id")
    tpls_out = tpls_base.join(tpl_links, on="id", how="left")

    sp_links = trips.selectExpr("id AS trip_id", "explode(sps) AS id")
    act_links = inter.filter("type = 'staypoint'").selectExpr(
        "sp_tpls_id AS id", "prev_trip_id", "next_trip_id"
    )
    sp_out = sp_base.join(sp_links, on="id", how="left").join(act_links, on="id", how="left")

    return sp_out, tpls_out, trips_out
