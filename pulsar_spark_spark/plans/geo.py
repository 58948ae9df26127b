"""Geo-predicate queries: geofence containment, bbox quality filters,
geofence state transitions, and the history-merge pipeline.

The ``events`` table carries no coordinates, so these queries run over
a DETERMINISTIC geo projection derived from md5 hashes of the key
columns — reproducible bit-for-bit in the DuckDB oracle (same md5
scheme as functions/text.py). Each user gets a stable base point;
each event jitters around it (with occasional far outliers), which
gives the per-key point clouds the reference's geo kernels expect.

Reference semantics re-expressed:

- J7 geofence containment — service/TripTrackingService.scala:128-134
  (``isInsideGeofences``: haversine < radius): an equi-free range
  join, planned as broadcast(geofences) + a conservative bbox
  prefilter so the haversine only runs on plausible pairs. At 100 TB
  the prefilter is what keeps this from being events × geofences; a
  geohash-prefix bucket join is the generalization when the geofence
  side is also large.
- P4 bbox + validity filter —
  service/SmartAddressBuildService.scala:274-305 (India bounding box,
  accuracy ceiling, zero-coord rejection).
- G9 geofence state machine — TripTrackingService.scala:149-190:
  batch analog via window lag over the per-event containing geofence;
  the alert CASE logic mirrors the reference's nested transitions
  (trip_start / geofence_exit on leaving, trip_end / geofence_entry
  on arriving). The streaming version lives in streaming/.
- J4/A3/U1/U4 history merge — service/GeoTagOptimizedService.scala:
  165-250: new-batch ∪ state → in-group first-wins dedup on the
  (lat, lng, accuracy) triple → keep newest 100. Expressed as
  window row_numbers instead of per-group Scala lists, so the state
  never materializes unbounded in one buffer.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast, col

from pulsar_spark_spark.functions.geo import (
    geohash_from_xy,
    geohash_quantize,
    haversine_m,
    sql_geohash_ctes,
)
from pulsar_spark_spark.functions.text import md5_i64
from pulsar_spark_spark.operators.checkpoint import materialize
from pulsar_spark_spark.plans.registry import query
from pulsar_spark_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------
# deterministic geo projection (Spark + DuckDB twins)
# ---------------------------------------------------------------------


def _salted_mod(prefix: str, key: Column, mod: int) -> Column:
    return md5_i64(F.concat(F.lit(prefix), key.cast("string"))) % mod


def _sql_salted_mod(prefix: str, key_expr: str, mod: int) -> str:
    return (
        f"(('0x' || substr(md5('{prefix}' || CAST({key_expr} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {mod})"
    )


def geo_events(
    spark: SparkSession, sf_dir: str, spread: "bool | str" = False
) -> DataFrame:
    """events + deterministic (lat, lng, accuracy) columns.

    Base point per user in a [2°,40°) × [60°,100°) box; per-event
    jitter ±0.0005° (~±55 m), with 1-in-10 outliers jittering ±0.05°
    (~±5.5 km); accuracy uniform in [0, 300).

    ``spread`` widens the RAW events relation BEFORE the 6-md5
    derivation chain runs (round 15, r14 VERDICT wrong #3: single-file
    fixture scans serialize every map-side derivation): ``True`` =
    :func:`spread_scan` (round-robin, no-op on real multi-file
    corpora); a column name = a pinned keyed repartition of the raw
    rows — for consumers that need that clustering anyway (the
    exchange then does double duty AND ships the narrow raw rows
    instead of +3 derived doubles). Measured at sf0.1 (noop,
    min-of-3): derivation 0.71 s unspread → 0.37 s round-robin →
    0.22 s keyed-pinned.
    """
    ev = load_table(spark, "events", sf_dir)
    if spread is True:
        ev = spread_scan(ev)
    elif spread:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ev = ev.repartition(n, spread)
    lat0 = 2.0 + _salted_mod("ulat:", col("user_id"), 3800) * 0.01
    lng0 = 60.0 + _salted_mod("ulng:", col("user_id"), 4000) * 0.01
    mult = F.when(_salted_mod("eout:", col("event_id"), 10) == 0, 100.0).otherwise(1.0)
    jlat = (_salted_mod("elat:", col("event_id"), 1001) - 500) * 1e-6 * mult
    jlng = (_salted_mod("elng:", col("event_id"), 1001) - 500) * 1e-6 * mult
    acc = _salted_mod("eacc:", col("event_id"), 300).cast("double")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        (lat0 + jlat).alias("lat"),
        (lng0 + jlng).alias("lng"),
        acc.alias("accuracy"),
    )


_SQL_GEO_EVENTS = f"""
    SELECT event_id, ts, user_id, event_type, value,
           (2.0 + {_sql_salted_mod('ulat:', 'user_id', 3800)} * 0.01::DOUBLE)
           + ({_sql_salted_mod('elat:', 'event_id', 1001)} - 500) * 1e-6
             * (CASE WHEN {_sql_salted_mod('eout:', 'event_id', 10)} = 0
                     THEN 100.0 ELSE 1.0 END) AS lat,
           (60.0 + {_sql_salted_mod('ulng:', 'user_id', 4000)} * 0.01::DOUBLE)
           + ({_sql_salted_mod('elng:', 'event_id', 1001)} - 500) * 1e-6
             * (CASE WHEN {_sql_salted_mod('eout:', 'event_id', 10)} = 0
                     THEN 100.0 ELSE 1.0 END) AS lng,
           CAST({_sql_salted_mod('eacc:', 'event_id', 300)} AS DOUBLE) AS accuracy
    FROM events
"""


def geofences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 deterministic geofences keyed off nation (bounded dim table).

    Each is centered on the base point of the user sharing its key
    (same salted-hash formula as :func:`geo_events`), radius 2–7 km:
    anchor users' normal jitter (±55 m) stays inside, their 1-in-10
    outlier jumps (±5.5 km) cross the boundary — which is what makes
    the state-machine query produce real transitions.
    """
    n = load_table(spark, "nation", sf_dir)
    return n.select(
        F.concat(F.lit("G"), col("n_nationkey").cast("string")).alias("geofence_id"),
        col("n_nationkey").alias("geofence_idx"),
        (2.0 + _salted_mod("ulat:", col("n_nationkey"), 3800) * 0.01).alias("glat"),
        (60.0 + _salted_mod("ulng:", col("n_nationkey"), 4000) * 0.01).alias("glng"),
        (2000.0 + _salted_mod("grad:", col("n_nationkey"), 5000)).alias("radius_m"),
    )


_SQL_GEOFENCES = f"""
    SELECT 'G' || CAST(n_nationkey AS VARCHAR) AS geofence_id,
           n_nationkey AS geofence_idx,
           2.0 + {_sql_salted_mod('ulat:', 'n_nationkey', 3800)} * 0.01::DOUBLE AS glat,
           60.0 + {_sql_salted_mod('ulng:', 'n_nationkey', 4000)} * 0.01::DOUBLE AS glng,
           2000.0 + {_sql_salted_mod('grad:', 'n_nationkey', 5000)} AS radius_m
    FROM nation
"""

# haversine, R = 6371 km (reference TripTrackingService.scala:69-75).
_SQL_HAVERSINE = (
    "(2 * 6371000.0 * asin(sqrt("
    "power(sin(radians({lat2} - {lat1}) / 2), 2) "
    "+ cos(radians({lat1})) * cos(radians({lat2})) "
    "* power(sin(radians({lng2} - {lng1}) / 2), 2))))"
)


def _bbox_prefilter() -> Column:
    """Conservative bbox around each geofence (superset of the circle),
    so the haversine runs on plausible pairs only. Never changes the
    result — it only prunes pairs the distance test would reject."""
    lat_margin = col("radius_m") / 110000.0
    lng_margin = col("radius_m") / 80000.0  # conservative for |lat| ≤ 40°
    return (
        col("lat").between(col("glat") - lat_margin, col("glat") + lat_margin)
        & col("lng").between(col("glng") - lng_margin, col("glng") + lng_margin)
    )


# ---------------------------------------------------------------------
# J7: geofence containment range join
# ---------------------------------------------------------------------
@query(
    "geofence_containment",
    oracle=f"""
        WITH ge AS ({_SQL_GEO_EVENTS}), gf AS ({_SQL_GEOFENCES})
        SELECT gf.geofence_id                    AS geofence_id,
               count(*)                          AS n_events,
               count(DISTINCT ge.user_id)        AS n_users,
               round(min({_SQL_HAVERSINE.format(lat1='ge.lat', lng1='ge.lng',
                                                lat2='gf.glat', lng2='gf.glng')}), 1)
                   AS min_dist_m
        FROM ge JOIN gf
          ON {_SQL_HAVERSINE.format(lat1='ge.lat', lng1='ge.lng',
                                    lat2='gf.glat', lng2='gf.glng')} < gf.radius_m
        GROUP BY gf.geofence_id
        ORDER BY geofence_id
    """,
)
def geofence_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside each geofence (haversine < radius range join).

    Plan shape: broadcast the 25-row geofence table, bbox-prune the
    cross product (Catalyst evaluates the cheap comparisons before the
    trig), then the haversine predicate decides. One scan of events,
    no shuffle until the tiny per-geofence aggregate. min() instead of
    avg() in the output keeps the oracle hash order-independent.

    The 3-column event projection is MATERIALIZED ahead of the join:
    the broadcast-loop join evaluates its condition per (event, fence)
    candidate, and without a hard boundary the md5 lat/lng derivation
    rides inside that condition (measured 1.77 → 1.35 s at sf0.1;
    at scale a ~20 B/row narrow write beats re-deriving per pair).
    """
    ge = materialize(
        geo_events(spark, sf_dir, spread=True).select("user_id", "lat", "lng")
    )
    gf = geofences(spark, sf_dir)
    dist = haversine_m(col("lat"), col("lng"), col("glat"), col("glng"))
    return (
        ge.join(broadcast(gf), _bbox_prefilter() & (dist < col("radius_m")))
        .groupBy("geofence_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.min(dist), 1).alias("min_dist_m"),
        )
        .orderBy("geofence_id")
    )


# ---------------------------------------------------------------------
# P4: bbox + validity quality filter
# ---------------------------------------------------------------------
_INDIA_BBOX = (6.75, 68.03, 36.26, 97.40)  # SmartAddressBuildService.scala:274-305


@query(
    "bbox_quality_filter",
    oracle=f"""
        WITH ge AS ({_SQL_GEO_EVENTS})
        SELECT event_type,
               count(*) AS n_total,
               count(*) FILTER (WHERE lat BETWEEN {_INDIA_BBOX[0]} AND {_INDIA_BBOX[2]}
                                  AND lng BETWEEN {_INDIA_BBOX[1]} AND {_INDIA_BBOX[3]})
                   AS n_in_bbox,
               count(*) FILTER (WHERE lat BETWEEN {_INDIA_BBOX[0]} AND {_INDIA_BBOX[2]}
                                  AND lng BETWEEN {_INDIA_BBOX[1]} AND {_INDIA_BBOX[3]}
                                  AND accuracy < 300 AND lat <> 0 AND lng <> 0)
                   AS n_quality
        FROM ge
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def bbox_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box + validity audit per event type (reference P4:
    India bbox, accuracy ceiling, zero-coordinate rejection).

    Pure scan-level conditional counts — one pass, partial aggregation,
    no shuffle beyond the 5-row result.
    """
    ge = geo_events(spark, sf_dir)
    in_bbox = col("lat").between(_INDIA_BBOX[0], _INDIA_BBOX[2]) & col("lng").between(
        _INDIA_BBOX[1], _INDIA_BBOX[3]
    )
    quality = in_bbox & (col("accuracy") < 300) & (col("lat") != 0) & (col("lng") != 0)
    return (
        ge.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(in_bbox, 1)).alias("n_in_bbox"),
            F.count(F.when(quality, 1)).alias("n_quality"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------
# G9 (batch analog): geofence state transitions
# ---------------------------------------------------------------------
_SRC_GF = "G0"
_DEST_GF = "G24"


@query(
    "trip_geofence_transitions",
    oracle=f"""
        WITH ge AS ({_SQL_GEO_EVENTS}), gf AS ({_SQL_GEOFENCES}),
        located AS (
            SELECT ge.event_id, ge.ts, ge.user_id,
                   coalesce(
                       'G' || CAST(max(CASE WHEN
                           {_SQL_HAVERSINE.format(lat1='ge.lat', lng1='ge.lng',
                                                  lat2='gf.glat', lng2='gf.glng')}
                           < gf.radius_m THEN gf.geofence_idx END) AS VARCHAR),
                       'outer') AS cur_gf
            FROM ge LEFT JOIN gf ON TRUE
            GROUP BY ge.event_id, ge.ts, ge.user_id
        ), lagged AS (
            SELECT user_id, event_id, ts, cur_gf,
                   coalesce(lag(cur_gf) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ), 'outer') AS prev_gf
            FROM located
        )
        SELECT user_id, event_id, prev_gf, cur_gf,
               CASE WHEN prev_gf = '{_SRC_GF}' THEN 'trip_start'
                    WHEN prev_gf <> 'outer'    THEN 'geofence_exit'
               END AS exit_alert,
               CASE WHEN cur_gf = 'outer' THEN NULL
                    WHEN cur_gf = '{_DEST_GF}' THEN 'trip_end'
                    ELSE 'geofence_entry'
               END AS entry_alert
        FROM lagged
        WHERE cur_gf <> prev_gf
        ORDER BY user_id, event_id
    """,
)
def trip_geofence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence state-machine transitions (batch analog of G9).

    Reference (TripTrackingService.scala:149-190): per event, the
    containing geofence is the LAST match in list order (loop
    overwrite → max geofence index); on change vs the stored
    last_geofence_id it emits exit alerts (trip_start when leaving the
    source, geofence_exit otherwise) and entry alerts (trip_end at the
    destination, geofence_entry otherwise). Here last_geofence_id is
    the lag window over time, seeded 'outer' — one user_id shuffle; the
    containment probe stays a broadcast join. The incremental/stateful
    version runs in streaming/ via foreachBatch over this same plan.

    Deliberately NOT materialized ahead of the containment join,
    unlike :func:`geofence_containment`: the same md5-rederivation
    diagnosis applies (the broadcast-loop condition evaluates per
    (event, fence) candidate), but an interleaved A/B measured the
    boundary AGAINST this query — ×1.05 slower at sf0.1 and ×1.02 at
    sf1 (min-of-3/4, arms alternated) — where containment measured
    ×1.31 FOR it. The difference: this query carries a 5-column
    projection into a left join + full-width groupBy whose checkpoint
    write costs more than the saved derivation, while containment's
    3-column projection feeds a 25-row aggregate.
    """
    # ONE user_id exchange ahead of the broadcast probe serves BOTH
    # downstream distribution needs (round 14): hashpartitioning on a
    # SUBSET of the aggregate's (event_id, ts, user_id) grouping keys
    # satisfies its clustering, and the lag window needs user_id
    # exactly — without this, Catalyst plans an (event_id, ts,
    # user_id) exchange for the dedup aggregate and a SECOND user_id
    # exchange for the window (3 → 2 exchanges; ×1.1-1.7 at sf0.1,
    # one full-width shuffle of the fact rows saved at scale).
    # Round 15 moved that exchange BELOW the md5 derivation (the
    # spread="user_id" arm of geo_events): same exchange count, but
    # the shuffle ships the narrow raw rows instead of +3 derived
    # doubles, the derivation runs post-shuffle at pinned width
    # instead of on the single-file scan partition, and the width no
    # longer collapses under AQE's small-shuffle coalescing.
    ge = geo_events(spark, sf_dir, spread="user_id")
    gf = geofences(spark, sf_dir)
    dist = haversine_m(col("lat"), col("lng"), col("glat"), col("glng"))
    located = (
        ge.join(broadcast(gf), _bbox_prefilter() & (dist < col("radius_m")), "left")
        .groupBy("event_id", "ts", "user_id")
        .agg(
            F.coalesce(
                F.concat(F.lit("G"), F.max("geofence_idx").cast("string")),
                F.lit("outer"),
            ).alias("cur_gf")
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = located.withColumn(
        "prev_gf", F.coalesce(F.lag("cur_gf").over(w), F.lit("outer"))
    )
    exit_alert = (
        F.when(col("prev_gf") == _SRC_GF, "trip_start")
        .when(col("prev_gf") != "outer", "geofence_exit")
        .otherwise(F.lit(None).cast("string"))
    )
    entry_alert = (
        F.when(col("cur_gf") == "outer", F.lit(None).cast("string"))
        .when(col("cur_gf") == _DEST_GF, "trip_end")
        .otherwise(F.lit("geofence_entry"))
    )
    return (
        lagged.filter(col("cur_gf") != col("prev_gf"))
        .select(
            "user_id",
            "event_id",
            "prev_gf",
            "cur_gf",
            exit_alert.alias("exit_alert"),
            entry_alert.alias("entry_alert"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------
# F3: geohash-7 spatial bucketing
# ---------------------------------------------------------------------
_GH_CTE, _GH_REL = sql_geohash_ctes("ge", "lat", "lng", 7)


@query(
    "geohash_bucket_rollup",
    oracle=f"""
        WITH ge AS ({_SQL_GEO_EVENTS}),
        {_GH_CTE}
        SELECT gh                        AS gh7,
               count(*)                  AS n_events,
               count(DISTINCT user_id)   AS n_users,
               round(avg(accuracy), 4)   AS avg_accuracy,
               round(min(lat), 6)        AS min_lat,
               round(min(lng), 6)        AS min_lng
        FROM {_GH_REL}
        GROUP BY gh
        HAVING count(*) > 1
        ORDER BY gh7
    """,
)
def geohash_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: geohash-7 spatial bucket aggregation over geo events.

    The reference uses geohash-7 (~150 m cells) as the spatial bucket
    key of the smart-address build
    (service/SmartAddressBuildService.scala:210, utils/Geohash.scala:
    40-70); this is the bucket-key rollup — the same key that turns a
    theta range join into an equi-join at 100 TB (the generalization
    the geofence-containment docstring promises).

    The encode runs as pure bigint quantize/interleave expressions
    inside whole-stage codegen (functions/geo.py geohash_quantize /
    geohash_from_xy — no Python UDF on the hot path), staged through a
    projection so the per-axis quantization happens once. Bit-exact
    DuckDB twin via sql_geohash_ctes; avg(accuracy) is
    order-independent because the fixture accuracies are integral.
    """
    ge = geo_events(spark, sf_dir, spread=True)
    x, y = geohash_quantize(col("lat"), col("lng"), 7)
    staged = ge.select(
        "user_id", "accuracy", "lat", "lng", x.alias("__x"), y.alias("__y")
    )
    bucketed = staged.select(
        "user_id",
        "accuracy",
        "lat",
        "lng",
        geohash_from_xy(col("__x"), col("__y"), 7).alias("gh7"),
    )
    return (
        bucketed.groupBy("gh7")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.avg("accuracy"), 4).alias("avg_accuracy"),
            F.round(F.min("lat"), 6).alias("min_lat"),
            F.round(F.min("lng"), 6).alias("min_lng"),
        )
        .filter(col("n_events") > 1)
        .orderBy("gh7")
    )


# ---------------------------------------------------------------------
# J4/A3/U1/U4: history-merge pipeline (batch formulation)
# ---------------------------------------------------------------------
@query(
    "geotag_history_merge",
    oracle=f"""
        WITH pts AS (
            SELECT user_id, event_id, ts,
                   (2.0 + {_sql_salted_mod('ulat:', 'user_id', 3800)} * 0.01::DOUBLE)
                   + ({_sql_salted_mod('hlat:', 'event_id', 5)} - 2) * 1e-4 AS lat,
                   (60.0 + {_sql_salted_mod('ulng:', 'user_id', 4000)} * 0.01::DOUBLE)
                   + ({_sql_salted_mod('hlng:', 'event_id', 5)} - 2) * 1e-4 AS lng,
                   CAST({_sql_salted_mod('eacc:', 'event_id', 3)} * 50 AS DOUBLE)
                       AS accuracy
            FROM events
            WHERE event_type IS NOT NULL
        ), dedup AS (
            SELECT *, row_number() OVER (
                       PARTITION BY user_id, lat, lng, accuracy
                       ORDER BY ts, event_id) AS dup_rn
            FROM pts
        ), capped AS (
            SELECT *, row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS cap_rn
            FROM dedup WHERE dup_rn = 1
        )
        SELECT user_id, event_id, ts, lat, lng, accuracy
        FROM capped
        WHERE cap_rn <= 100
        ORDER BY user_id, ts, event_id
    """,
)
def geotag_history_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user location history merge: union → in-group exact dedup →
    cap-100 (reference GeoTagOptimizedService.scala:165-250).

    The reference unions the micro-batch with the stored state,
    rebuilds each address's list in one executor-side Scala buffer,
    drops duplicate (lat, lng, accuracy) triples keeping the FIRST
    occurrence, and keeps the newest 100 (takeRight). Re-expressed as
    two window row_numbers sharing one user_id shuffle — no unbounded
    per-key buffer, so a hot key with millions of points streams
    through instead of materializing. Coordinates snap to a ~11 m grid
    (5×5 jitter cells per user) and accuracy buckets to {{0,50,100}} so
    exact-triple duplicates actually occur, as they do in the
    reference's data — the grid is built directly from integer hashes,
    never by rounding a double (round() half-case behavior is not
    oracle-portable).
    """
    import os

    from pulsar_spark_spark.plans.kernels import _events_rows

    arm = os.environ.get(_GEOTAG_ARM_ENV, "auto")
    if arm not in ("auto", "plain", "bucketed"):
        raise ValueError(
            f"{_GEOTAG_ARM_ENV} {arm!r}: accepted values are "
            "'auto', 'plain', 'bucketed'"
        )
    if arm == "plain" or (
        arm == "auto" and _events_rows(sf_dir) <= _GEOTAG_LAYOUT_FLOOR_ROWS
    ):
        return _geotag_merge(_geotag_points(spark, sf_dir))
    return _geotag_merge_from_layout(spark, sf_dir)


def _geotag_pts(ev: DataFrame) -> DataFrame:
    """The history-merge point derivation over an events relation
    (keeps ``event_type`` so callers can split state/batch)."""
    lat = (2.0 + _salted_mod("ulat:", col("user_id"), 3800) * 0.01) + (
        _salted_mod("hlat:", col("event_id"), 5) - 2
    ) * 1e-4
    lng = (60.0 + _salted_mod("ulng:", col("user_id"), 4000) * 0.01) + (
        _salted_mod("hlng:", col("event_id"), 5) - 2
    ) * 1e-4
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        lat.alias("lat"),
        lng.alias("lng"),
        (_salted_mod("eacc:", col("event_id"), 3) * 50).cast("double").alias("accuracy"),
    )


def _geotag_state_batch(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(stored state, arriving micro-batch) point relations for the
    history merge — 'purchase' events play the batch, everything else
    the persisted state (the reference's union inputs)."""
    all_pts = _geotag_pts(load_table(spark, "events", sf_dir))
    state = all_pts.filter(col("event_type") != "purchase").drop("event_type")
    batch = all_pts.filter(col("event_type") == "purchase").drop("event_type")
    return state, batch


def _geotag_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge input: state ∪ batch (U1/J4), collapsed to its value.

    The two union inputs partition the SAME projection into
    complementary ``event_type`` subsets — the union is exactly the
    projection of the non-NULL ``event_type`` rows, but expressed as
    two scans + two md5 derivations Catalyst cannot fuse. Round 15 collapses it to ONE scan + one
    derivation feeding the single user_id exchange
    :func:`_geotag_merge`'s two windows share. Row ORDER differs from
    the literal union; both consumers are window row_numbers with
    total (ts, event_id) orders, so results are identical
    (oracle-checked).

    The derivation/exchange ORDER is width-adaptive (measured both
    regimes, 100× in-JVM 4-arm interleaved A/B): on a WIDE scan (any
    real multi-file corpus) the md5 chain runs map-side BELOW the
    keyed exchange — it pipelines with the scan + shuffle write, and
    deriving above instead re-projects 10M rows inside the window
    stage (6.5 vs 5.1 s at 100×). On the single-partition fixture
    scan that order would serialize the derivation, so there the raw
    rows are keyed-spread FIRST (pinned width) and derived above —
    0.67 vs 0.92 s at sf0.1. One keyed exchange either way."""
    # state (!= 'purchase') ∪ batch (== 'purchase') drops NULL
    # event_type rows, as the bucketed arm's two filters do
    ev = load_table(spark, "events", sf_dir).filter(
        col("event_type").isNotNull()
    )
    par = spark.sparkContext.defaultParallelism
    if (
        os.environ.get("SPARK_GRAFT_SCAN_SPREAD", "") != "0"
        and ev.rdd.getNumPartitions() < par
    ):
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return _geotag_pts(ev.repartition(n, "user_id")).drop("event_type")
    return (
        _geotag_pts(ev).drop("event_type").repartition("user_id")
    )


def dedup_then_cap(pts: DataFrame, ts_col: str, cap: int) -> DataFrame:
    """The reference's J4/A3 merge discipline in ONE place:
    first-occurrence dedup per (user_id, lat, lng, accuracy), then
    keep the ``cap`` newest points per user. Shared by the batch
    geotag merge (``ts``, cap 100) and the streaming rescore state
    fold (``ts_ms``, its history cap) so a future change to the dedup
    ordering or cap semantics cannot silently diverge the two
    formulations — they re-implemented the same window pair before
    round 14. Returns the surviving rows, helper columns dropped."""
    w_dup = Window.partitionBy("user_id", "lat", "lng", "accuracy").orderBy(
        ts_col, "event_id"
    )
    w_cap = Window.partitionBy("user_id").orderBy(
        col(ts_col).desc(), col("event_id").desc()
    )
    return (
        pts.withColumn("__dup_rn", F.row_number().over(w_dup))
        .filter(col("__dup_rn") == 1)
        .withColumn("__cap_rn", F.row_number().over(w_cap))
        .filter(col("__cap_rn") <= cap)
        .drop("__dup_rn", "__cap_rn")
    )


def _geotag_merge(pts: DataFrame) -> DataFrame:
    """dedup-first-occurrence → cap-100-newest over the point union.

    Both windows share ONE user_id exchange (round 14):
    hashpartitioning(user_id) satisfies the dup window's clustering
    on (user_id, lat, lng, accuracy) — a key subset — AND the cap
    window's user_id requirement (3 → 2 exchanges total; measured
    ×1.05-1.35 at sf0.1 interleaved). Round 15 moved that exchange
    INTO :func:`_geotag_points`, below the md5 derivation, so ``pts``
    arrives already clustered on user_id — repartitioning here again
    would be a redundant second shuffle. The bucketed arm
    (:func:`_geotag_merge_from_layout`) keeps its own zero-Exchange
    state shape and is unaffected."""
    return (
        dedup_then_cap(pts, "ts", 100)
        .select("user_id", "event_id", "ts", "lat", "lng", "accuracy")
        .orderBy("user_id", "ts", "event_id")
    )


# Arm routing for the recurring-merge serve shape (round 12): the
# reference's flagship state pattern re-merges a small micro-batch
# into a big accumulated state every cycle
# (GeoTagOptimizedService.scala:165-169). The plain arm re-shuffles
# the FULL corpus through two windows every run; the bucketed arm
# stores the state DEDUPED (all unique (user,lat,lng,accuracy)
# triples with their first occurrence — uncapped, so non-monotonic
# batches still merge exactly) bucketed by user_id, and each merge
# pays only (a) the small batch-side shuffle of the full-outer
# first-occurrence join (the state side arrives bucket-partitioned:
# ZERO Exchange, pinned in tests/test_bucketed.py) and (b) one
# Exchange of the merged UNIQUES for the cap window — never the raw
# corpus. Same floor discipline as kernels._refinement_input: below
# ~1.5M events the layout build costs more than it saves.
_GEOTAG_ARM_ENV = "SPARK_GRAFT_GEOTAG_ARM"
_GEOTAG_LAYOUT_FLOOR_ROWS = 1_500_000
_GEOTAG_KEY = ["user_id", "lat", "lng", "accuracy"]


def _geotag_n_buckets(sf_dir: str) -> int:
    """~25M state rows per bucket in units of 32 (one local[32] wave;
    a cluster profile passes its own) — kernels.ensure_refinement_
    layout's sizing rule, shared by the layout build and the merge's
    batch-side repartition so the join is co-partitioned."""
    import math

    from pulsar_spark_spark.plans.kernels import _events_rows

    return 32 * max(1, math.ceil(_events_rows(sf_dir) / 25_000_000))


def ensure_geotag_state_layout(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: "int | None" = None,
    index_root: "str | None" = None,
) -> str:
    """Build-once bucketed layout of the DEDUPED state triples for
    ``sf_dir``; returns the registered catalog table name.

    Same cache discipline as kernels.ensure_refinement_layout: data
    rides the on-disk fingerprint cache (built in a staging dir,
    swapped whole, invalidated when the source events parquet
    changes); bucket metadata is re-registered per session as an
    EXTERNAL table definition. The state is stored one row per unique
    (user_id, lat, lng, accuracy) triple with the triple's
    first-occurrence (ts, event_id) — the dedup shuffle is paid ONCE
    at build, then every recurring merge joins against it in place.
    """
    import hashlib
    import os
    import uuid

    from pulsar_spark_spark.plans.similarity import _ensure_index
    from pulsar_spark_spark.sources.bucketed import (
        register_external_bucketed,
        save_bucketed,
    )

    if n_buckets is None:
        n_buckets = _geotag_n_buckets(sf_dir)

    def build(tmp: str) -> None:
        state, _batch = _geotag_state_batch(spark, sf_dir)
        dedup = (
            state.groupBy(*_GEOTAG_KEY)
            .agg(F.min(F.struct("ts", "event_id")).alias("__first"))
            .select(
                *_GEOTAG_KEY,
                col("__first.ts").alias("ts"),
                col("__first.event_id").alias("event_id"),
            )
        )
        tmp_table = f"geotag_state_build_{uuid.uuid4().hex[:10]}"
        try:
            save_bucketed(
                dedup,
                tmp_table,
                "user_id",
                n_buckets,
                sort_cols=tuple(_GEOTAG_KEY),
                path=os.path.join(tmp, "data"),
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")

    idx = _ensure_index(
        "geotag_state",
        sf_dir,
        {"n_buckets": n_buckets, "v": 2},
        build,
        index_root=index_root,
        # built FROM events — fingerprint those files, not the default
        # embeddings source (round-13 ADVICE high: a regenerated
        # events.parquet must invalidate this cache, and a partial
        # fixture dir with no embeddings.parquet must not yield an
        # empty never-changing fingerprint)
        source_table="events",
    )
    table = "geotag_state_{}_{}".format(
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10],
        n_buckets,
    )
    register_external_bucketed(
        spark,
        table,
        os.path.join(idx, "data"),
        (
            "user_id BIGINT, lat DOUBLE, lng DOUBLE, accuracy DOUBLE, "
            "ts TIMESTAMP, event_id BIGINT"
        ),
        "user_id",
        n_buckets,
        sort_cols=tuple(_GEOTAG_KEY),
    )
    return table


def _geotag_merge_from_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring-merge serve arm: full-outer first-occurrence join
    of the micro-batch's aggregated triples against the bucketed
    state, then the cap window — result-identical to
    :func:`_geotag_merge` (min(struct(ts, event_id)) picks the same
    first occurrence whichever side it came from, so non-monotonic
    batches are exact too)."""
    # subset-key co-partition: the state is bucketed on user_id, the
    # join clusters on the full triple — HashPartitioning(user_id)
    # satisfies that ClusteredDistribution, but Spark only USES it
    # with the all-keys requirement relaxed (the batch side then
    # shuffles to the state's user_id buckets instead of both sides
    # re-shuffling on the 4-tuple). The knob itself
    # (spark.sql.requireAllClusterKeysForCoPartition=false) is a
    # session default in session.get_session — a global planner
    # setting has no business being flipped as a side effect of one
    # plan body (round-12 VERDICT wrong #3); the zero-Exchange pin in
    # tests/test_bucketed.py still guards the plan shape under it.
    table = ensure_geotag_state_layout(spark, sf_dir)
    st = spark.table(table).select(
        *_GEOTAG_KEY, F.struct("ts", "event_id").alias("__first")
    ).alias("s")
    # ONE batch-side Exchange total: repartition to the state's exact
    # (key, count) spec up front, so the triple groupBy (clustered on
    # a superset of user_id) and the join (co-partitioned with the
    # bucketed scan) both reuse it. Round 15: the batch is filtered
    # and repartitioned on the RAW rows, and the md5 point derivation
    # runs AFTER the exchange — 'purchase' rows only (~1/5 of the
    # scan) are derived, the shuffle ships narrow raw columns, and
    # the derivation runs at bucket width instead of the single-file
    # scan partition.
    ev = load_table(spark, "events", sf_dir)
    batch = _geotag_pts(
        ev.filter(col("event_type") == "purchase").repartition(
            _geotag_n_buckets(sf_dir), "user_id"
        )
    ).drop("event_type")
    ba = (
        batch.groupBy(*_GEOTAG_KEY)
        .agg(F.min(F.struct("ts", "event_id")).alias("__first"))
        .alias("b")
    )
    take_b = col("s.__first").isNull() | (
        col("b.__first").isNotNull() & (col("b.__first") < col("s.__first"))
    )
    merged = st.join(ba, _GEOTAG_KEY, "full_outer").select(
        *_GEOTAG_KEY,
        F.when(take_b, col("b.__first"))
        .otherwise(col("s.__first"))
        .alias("__first"),
    )
    w_cap = Window.partitionBy("user_id").orderBy(
        col("__first.ts").desc(), col("__first.event_id").desc()
    )
    return (
        merged.withColumn("cap_rn", F.row_number().over(w_cap))
        .filter(col("cap_rn") <= 100)
        .select(
            "user_id",
            col("__first.event_id").alias("event_id"),
            col("__first.ts").alias("ts"),
            "lat",
            "lng",
            "accuracy",
        )
        .orderBy("user_id", "ts", "event_id")
    )
