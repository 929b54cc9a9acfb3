"""read_mzmv — Swiss "Mikrozensus Mobilität und Verkehr" survey reader.

Reference: trackintel ``read_mzmv`` (io/dataset_reader.py:369-455) with
helpers ``_mzmv_verification_points`` (:458-521), ``_mzmv_to_datetime``
(:523-543) and ``_mzmv_generate_sp`` (:546-688). Returns
(trips, staypoints, triplegs) DataFrames.

Spark-first re-expression:

* the survey ships as ONE national zip (``4_DB_csv/CH_CSV.zip``) — zip
  is not a splittable format, so members are stream-extracted once on
  the driver to a scratch dir and every CSV is then read DISTRIBUTED
  (``spark.read.csv``, latin1, header). A directory of already-unzipped
  CSVs is accepted too and skips the extraction;
* all derivations (activity flags, prev/next trip linkage, purpose
  tagging, verification-point linestrings) are window/join expressions
  — no Python in the data path;
* the reference keys trips/staypoints by pandas row order; we assign
  the same ids deterministically from the data itself — trips dense in
  (user_id, WEGNR) order, staypoints dense with all tripleg-start
  staypoints (in (user_id, ETNR) order) before the per-user trailing
  staypoints, matching the reference's concat order (:652);
* the routed tripleg shapefile (``5_Routen/CH_routen.zip``, reference
  :395,:434-436) is read with the distributed pure-Python shapefile
  reader (``sources/shapefile.py``) when present and left-joined onto
  triplegs as ``geometry`` (NULL where no route / invalid, reference
  :448); like the reference notes (:386-389), ``VP_XY``
  verification-point linestrings are the geometry that is always
  available, so ``geom`` is still built from them.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trackintel_spark.plans.ids import dense_id_by_user, persist_owned

MZMV_ENCODING = "iso-8859-1"  # = the reference's "latin1" (Spark charset name)

_FILES = ("wege.csv", "etappen.csv", "verifikationspunkte.csv", "zielpersonen.csv")


def _member_paths(path: str) -> dict[str, str]:
    """Resolve {csv name -> readable path}, extracting a zip if needed."""
    if os.path.isdir(path):
        inner = os.path.join(path, "4_DB_csv", "CH_CSV.zip")
        if os.path.exists(inner):
            path = inner
        else:
            out = {}
            for name in _FILES:
                p = os.path.join(path, name)
                if os.path.exists(p):
                    out[name] = p
            if out:
                return out
            raise FileNotFoundError(f"no MZMV csv files under {path!r}")
    scratch = tempfile.mkdtemp(prefix="mzmv_")
    with zipfile.ZipFile(path) as zf:
        members = {os.path.basename(m): m for m in zf.namelist()}
        out = {}
        for name in _FILES:
            if name in members:
                zf.extract(members[name], scratch)
                out[name] = os.path.join(scratch, members[name])
    return out


def _read_csv(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.option("header", "true")
        .option("encoding", MZMV_ENCODING)
        .option("inferSchema", "true")
        .csv(path)
    )


def _to_datetime(col):
    """MZMV times are 'HH:MM:SS' strings with no date (reference
    _mzmv_to_datetime): pin to 1970-01-01 UTC; '24:00:00' is invalid —
    clamp to 23:59:59 to stay on the same day. Schema inference may have
    turned an all-valid time column into a timestamp (on the read date),
    so extract the time-of-day from the string form either way."""
    t = F.regexp_extract(col.cast("string"), r"(\d{1,2}:\d{2}:\d{2})", 1)
    fixed = F.when(t == "24:00:00", F.lit("23:59:59")).otherwise(t)
    return F.to_timestamp(F.concat(F.lit("1970-01-01 "), fixed), "yyyy-MM-dd H:mm:ss")


def _fix_negative_duration(df: DataFrame) -> DataFrame:
    """A trip/leg finishing past midnight has finished_at < started_at —
    add one day (reference treat_negative_durations)."""
    neg = F.col("finished_at") < F.col("started_at")
    return df.withColumn(
        "finished_at",
        F.when(neg, F.col("finished_at") + F.expr("INTERVAL 1 DAY")).otherwise(F.col("finished_at")),
    )


_RENAME = {"HHNR": "user_id", "f51100time": "started_at", "f51400time": "finished_at"}


def _rename_time(df: DataFrame) -> DataFrame:
    for old, new in _RENAME.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    df = df.withColumn("started_at", _to_datetime(F.col("started_at").cast("string")))
    df = df.withColumn("finished_at", _to_datetime(F.col("finished_at").cast("string")))
    return _fix_negative_duration(df)


def _vp_linestrings(vp: DataFrame, tpls: DataFrame, num_points: int = 6) -> DataFrame:
    """Aggregate the up-to-6 verification points of each etappe plus the
    tripleg start/end into an ordered linestring (reference
    _mzmv_verification_points) — one array_sort over structs instead of
    a concat of 8 pandas frames. -997 marks a missing coordinate."""
    parts = []
    sel_t = tpls.select(
        "user_id", "ETNR",
        F.col("S_X").alias("x0"), F.col("S_Y").alias("y0"),
        F.col("Z_X").alias("x9"), F.col("Z_Y").alias("y9"),
    )
    parts.append(sel_t.select("user_id", "ETNR", F.lit(0).alias("ord"),
                              F.col("x0").alias("X"), F.col("y0").alias("Y")))
    for i in range(1, num_points + 1):
        cols = {c: f"R{i}_{c}" for c in ("X", "Y")}
        if not all(c in vp.columns for c in cols.values()):
            continue
        part = vp.select(
            "user_id", "ETNR", F.lit(i).alias("ord"),
            F.when(F.col(cols["X"]) != -997, F.col(cols["X"])).alias("X"),
            F.when(F.col(cols["Y"]) != -997, F.col(cols["Y"])).alias("Y"),
        ).filter(F.col("X").isNotNull() | F.col("Y").isNotNull())
        parts.append(part)
    parts.append(sel_t.select("user_id", "ETNR", F.lit(num_points + 1).alias("ord"),
                              F.col("x9").alias("X"), F.col("y9").alias("Y")))

    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy("user_id", "ETNR")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", F.col("X").alias("lon"), F.col("Y").alias("lat")))),
                lambda s: F.struct(s["lon"].alias("lon"), s["lat"].alias("lat")),
            ).alias("geom")
        )
    )


def _routes_path(mzmv_path: str, routes: str | None) -> str | None:
    """Resolve the routed-geometry shapefile: an explicit ``routes``
    argument wins; otherwise look for the survey's standard
    ``5_Routen(Geometriefiles)/CH_routen.zip`` next to the CSVs
    (reference io/dataset_reader.py:395)."""
    if routes is not None:
        return routes
    if not os.path.isdir(mzmv_path):
        return None
    for sub in ("5_Routen(Geometriefiles)", "5_Routen"):
        for name in ("CH_routen.zip", "CH_routen.shp"):
            p = os.path.join(mzmv_path, sub, name)
            if os.path.exists(p):
                return p
    return None


def read_mzmv(
    spark: SparkSession, mzmv_path: str, routes: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read MZMV; returns (trips, staypoints, triplegs).

    ``mzmv_path``: the unzipped survey folder (containing
    ``4_DB_csv/CH_CSV.zip``), the zip itself, or a directory with the
    plain member CSVs. ``routes``: optional path to the routed-tripleg
    shapefile (``CH_routen.zip`` / ``.shp``); auto-discovered under the
    survey folder when not given.
    """
    paths = _member_paths(mzmv_path)

    trips = _rename_time(_read_csv(spark, paths["wege.csv"]).withColumnRenamed("HHNR", "user_id"))
    trips = dense_id_by_user(trips, order_by=["WEGNR"], id_col="trip_id")

    tpls = _rename_time(_read_csv(spark, paths["etappen.csv"]).withColumnRenamed("HHNR", "user_id"))
    # trips and etappen are the same order of magnitude — a plain
    # shuffle join on the composite key, co-partitioned with every
    # later per-user window
    tpls = tpls.join(trips.select("user_id", "WEGNR", "trip_id"), on=["user_id", "WEGNR"], how="inner")

    # -- staypoints from tripleg endpoints (reference _mzmv_generate_sp) --
    w = Window.partitionBy("user_id").orderBy("ETNR")
    first_tpl = F.col("ETNR") == 1
    last_tpl = F.coalesce(F.lead(first_tpl.cast("boolean")).over(w), F.lit(True))
    staged = (
        tpls.withColumn("__first", first_tpl)
        .withColumn("__last", last_tpl)
        .withColumn("__prev_wegnr", F.lag("WEGNR").over(w))
        .withColumn("__prev_trip", F.lag("trip_id").over(w))
        .withColumn("__prev_finished", F.lag("finished_at").over(w))
        .withColumn("__prev_purpose", F.lag("f52900").over(w) if "f52900" in tpls.columns else F.lit(None))
    )

    attr_cols = sorted(
        c[2:] for c in tpls.columns
        if c.startswith("S_") and ("Z_" + c[2:]) in tpls.columns
    )

    is_activity = F.col("__first") | ~F.col("WEGNR").eqNullSafe(F.col("__prev_wegnr"))
    sp_start = staged.select(
        "user_id", "WEGNR", "ETNR",
        *[c for c in ("W_X_CH1903", "W_Y_CH1903") if c in tpls.columns],
        *[F.col("S_" + c).alias(c) for c in attr_cols],
        is_activity.alias("is_activity"),
        # zero-duration staypoint for the user's first leg (unknown arrival)
        F.when(F.col("__first"), F.col("started_at")).otherwise(F.col("__prev_finished")).alias("started_at"),
        F.col("started_at").alias("finished_at"),
        F.when(is_activity & ~F.col("__first"), F.col("__prev_trip")).alias("prev_trip_id"),
        F.when(is_activity, F.col("trip_id")).alias("next_trip_id"),
        F.when(~is_activity, F.col("trip_id")).alias("trip_id"),
        F.when(~F.col("__first"), F.col("__prev_purpose")).alias("purpose_tpls"),
        F.lit(0).alias("__block"),
    )
    sp_end = staged.filter("__last").select(
        "user_id", "WEGNR", "ETNR",
        *[c for c in ("W_X_CH1903", "W_Y_CH1903") if c in tpls.columns],
        *[F.col("Z_" + c).alias(c) for c in attr_cols],
        F.lit(True).alias("is_activity"),
        F.col("finished_at").alias("started_at"),
        F.lit(None).cast("timestamp").alias("finished_at"),
        F.col("trip_id").alias("prev_trip_id"),
        F.lit(None).cast("long").alias("next_trip_id"),
        F.lit(None).cast("long").alias("trip_id"),
        (F.col("f52900") if "f52900" in tpls.columns else F.lit(None)).alias("purpose_tpls"),
        F.lit(1).alias("__block"),
    )
    sp = sp_start.unionByName(sp_end)

    # purpose: home/work/education by exact CH1903 coordinate equality
    # with the zielpersonen lookups (reference :656-671); the person
    # table is small — broadcast.
    if "zielpersonen.csv" in paths and "X_CH1903" in attr_cols:
        zp = _read_csv(spark, paths["zielpersonen.csv"]).withColumnRenamed("HHNR", "user_id")
        keep = [c for c in ("A_X_CH1903", "A_Y_CH1903", "AU_X_CH1903", "AU_Y_CH1903") if c in zp.columns]
        sp = sp.join(F.broadcast(zp.select("user_id", *keep)), on="user_id", how="left")
        work = F.lit(False)
        if "A_X_CH1903" in keep:
            work = work | ((F.col("A_X_CH1903") == F.col("X_CH1903")) & (F.col("A_Y_CH1903") == F.col("Y_CH1903")))
        if "AU_X_CH1903" in keep:
            work = work | ((F.col("AU_X_CH1903") == F.col("X_CH1903")) & (F.col("AU_Y_CH1903") == F.col("Y_CH1903")))
        home = F.lit(False)
        if "W_X_CH1903" in tpls.columns:
            home = (F.col("W_X_CH1903") == F.col("X_CH1903")) & (F.col("W_Y_CH1903") == F.col("Y_CH1903"))
        # home potentially overwrites work (reference :670)
        sp = sp.withColumn(
            "purpose",
            F.when(home, F.lit("home")).when(work, F.lit("work")).otherwise(F.lit(None)),
        ).drop(*keep)

    # ids: all start-staypoints (user, ETNR order) precede the trailing
    # block, mirroring the reference's concat order (:652). The Z-block
    # offset (= S-block row count) stays in-plan as a broadcast 1-row
    # aggregate — no driver action.
    sp = persist_owned(sp)
    sp_s = dense_id_by_user(sp.filter(F.col("__block") == 0), order_by=["ETNR"], id_col="id")
    n_start = sp_s.agg(F.count(F.lit(1)).alias("__n0"))
    sp_z = dense_id_by_user(sp.filter(F.col("__block") == 1), order_by=["ETNR"], id_col="id")
    sp_z = sp_z.crossJoin(F.broadcast(n_start)).withColumn("id", F.col("id") + F.col("__n0")).drop("__n0")
    sp = sp_s.unionByName(sp_z).drop("__block")

    if "geom" not in sp.columns and "X" in sp.columns and "Y" in sp.columns:
        sp = sp.withColumn("geom", F.struct(F.col("X").cast("double").alias("lon"),
                                            F.col("Y").cast("double").alias("lat")))

    # -- tripleg geometry from verification points ------------------------
    if "verifikationspunkte.csv" in paths:
        vp = _read_csv(spark, paths["verifikationspunkte.csv"]).withColumnRenamed("HHNR", "user_id")
        tpls = tpls.join(_vp_linestrings(vp, tpls), on=["user_id", "ETNR"], how="left")

    # -- routed geometry from the 5_Routen shapefile (reference :434-436) -
    shp = _routes_path(mzmv_path, routes)
    if shp is not None:
        from trackintel_spark.sources import wkt as _wkt
        from trackintel_spark.sources.shapefile import read_shapefile

        geo = read_shapefile(spark, shp, columns=["HHNR", "ETNR"]).select(
            F.col("HHNR").alias("user_id"),
            F.col("ETNR"),
            # multi-part routes flatten to one vertex sequence (an
            # anchored LINESTRING-only parse would null them; the
            # unanchored one would silently corrupt them)
            _wkt.parse_wkt_line_flat(F.col("geometry")).alias("geometry"),
        )
        # invalid routes (reference sets ~is_valid to None, :448): a
        # linestring needs >= 2 vertices
        geo = geo.withColumn(
            "geometry",
            F.when(F.size("geometry") >= 2, F.col("geometry")),
        )
        # routes and triplegs are the same cardinality — a plain
        # shuffle join on the composite key, never a forced broadcast
        tpls = tpls.join(geo, on=["user_id", "ETNR"], how="left")
    tpls = dense_id_by_user(tpls, order_by=["ETNR"], id_col="id")

    # -- trip <-> staypoint linkage (reference :448-455) -------------------
    origin = sp.filter(F.col("next_trip_id").isNotNull()).select(
        F.col("next_trip_id").alias("trip_id"), F.col("id").alias("origin_staypoint_id")
    )
    dest = sp.filter(F.col("prev_trip_id").isNotNull()).select(
        F.col("prev_trip_id").alias("trip_id"), F.col("id").alias("destination_staypoint_id")
    )
    trips = trips.join(origin, on="trip_id", how="inner").join(dest, on="trip_id", how="inner")
    trips = trips.withColumnRenamed("trip_id", "id")

    return trips, sp, tpls
