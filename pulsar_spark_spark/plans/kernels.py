"""Registered queries for the G1-G7 geo kernels.

These are the reference's flagship analytics
(GeoTagOptimizedService.scala:74-76 best-lat-lng + cluster score over
per-address history; DeliveryLocationRefinementService.scala:85-130
ping-based delivery refinement), run over the deterministic geo
projection of ``events`` (plans/geo.py) with ``user_id`` standing in
for addr_hash/agent_id.

The kernels are procedural (O(n²) scoring, iterative trimming, a
stateful single-pass clusterer). Exact semantics for ALL of them are
enforced in pytest against an independent pure-Python transliteration
of the reference algorithms (tests/geo_oracle.py, mirroring the
reference's own service-test strategy,
CompassSparkServiceTest.scala:113-136). On top of that, the
SELECTION-shaped kernels (G1, G3 — whose outputs are input
coordinates picked by integer neighbor-count argmax) carry full DuckDB
value oracles built on a recursive-CTE Vincenty
(functions/geo.py::sql_vincenty_alldist_ctes): engine-level distance
wobble is ~1e-9 m (numpy-vs-libm atan2 ulps) while the fixture's
closest threshold margin is ~1e-4 m (measured), so no count can flip.

Round 6: EVERY kernel query now carries a full value oracle — the
registry has zero rows-only entries. The round-5 robustness concerns
(G2's float-equality argmax over the two ulp-separated DIRECTIONS of
a symmetric pair; G4's order-sensitive float centroid sum re-fed into
the trim loop; the G5-G7 DBSCAN walk's ulp-amplifying method-label
routing) were MEASURED rather than assumed
(tests/test_kernel_margins.py): on the gate fixture, G2 has no exact
score ties and a ≥2.3e-3 relative gap between distinct scores, and NO
kernel — G2, G4, or the full G5→G6→G3/G4 refinement chain across all
1,981 deliveries — flips any decision under 1e-9 relative distance
noise (1000× the real numpy↔SQL atan2 wobble). The oracles therefore:

- select G2 candidates with a 1e-6 relative score band
  (:func:`_g2g4_oracle`);
- unroll the G4 trim loop with per-iteration Vincenty CTE instances;
- replay the sequential G5 walk as a recursive CTE over precomputed
  ping-pair distances, with G6/G7 selection windows on top
  (:func:`_refinement_sql_ctes`, :func:`_g5g7_oracle`,
  :func:`_g8_oracle`);
- compare computed-centroid outputs at a nudged 6 dp rounding
  (see ``_CENTROID_NUDGE``), which is also the registered surface's
  honest output precision.

Plan shape at 100 TB: one shuffle on the group key into
``applyInPandas``; groups are bounded (kernel guards + upstream
cap-100 state), Arrow moves each group once. The delivery-refinement
input is the T4 interval join (equi-join on user + time-range
residual), never a cross join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import col

from pulsar_spark_spark.functions.geo import (
    sql_vincenty_alldist_ctes,
    sql_vincenty_center_ctes,
)
from pulsar_spark_spark.functions.time import ts_millis
from pulsar_spark_spark.operators.checkpoint import materialize
from pulsar_spark_spark.operators.grouped import (
    apply_best_latlng,
    apply_cluster_score,
    apply_cluster_score_v3,
    apply_delivery_refinement,
    apply_trimmed_centroid,
)
from pulsar_spark_spark.plans.geo import _SQL_GEO_EVENTS, geo_events
from pulsar_spark_spark.plans.registry import query

# kernel input rows, numbered 1..n per user in kernel sort order —
# the SQL twin of _geo_points + the wrappers' sort_values(ts_ms,
# event_id). epoch_ns//1000//1000 reproduces Spark's ns→µs truncation
# followed by unix_millis.
_SQL_ORD = f"""
pts AS (
    SELECT user_id, event_id,
           (epoch_ns(ts) // 1000) // 1000 AS ts_ms,
           lat, lng
    FROM ({_SQL_GEO_EVENTS})
), ord AS (
    SELECT user_id, event_id, lat, lng,
           row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS i,
           count(*)     OVER (PARTITION BY user_id)                          AS n
    FROM pts
)"""


def _g1_oracle() -> str:
    """G1: all-pairs neighbor counts (d < 300, self included), first-max
    argmax in input order; n<4 / n>500 guard returns the last point —
    the same routing the Spark side's JVM pre-dispatch performs."""
    return f"""
WITH RECURSIVE {_SQL_ORD},
{sql_vincenty_alldist_ctes('WHERE n >= 4 AND n <= 500')},
counts AS (
    SELECT user_id, i, sum(CASE WHEN d < 300.0 THEN 1 ELSE 0 END) AS c
    FROM alldist GROUP BY user_id, i
), best AS (
    SELECT user_id, i FROM counts
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY c DESC, i ASC) = 1
)
SELECT o.user_id AS user_id, o.lat AS best_lat, o.lng AS best_lng,
       CAST(o.n AS INTEGER) AS n_points
FROM best b JOIN ord o ON o.user_id = b.user_id AND o.i = b.i
UNION ALL
SELECT user_id, lat, lng, CAST(n AS INTEGER) AS n_points
FROM ord WHERE (n < 4 OR n > 500) AND i = n
ORDER BY user_id
"""


def _g3_oracle() -> str:
    """G3: per-ROW neighbor counts (differing coords, d ≤ 200) summed
    per COORDINATE, argmax in first-occurrence order, real-ceil
    majority bar at min-points 3 — no size guard, like the kernel."""
    return f"""
WITH RECURSIVE {_SQL_ORD},
{sql_vincenty_alldist_ctes()},
cnt_row AS (
    SELECT user_id, i,
           sum(CASE WHEN differs AND d <= 200.0 THEN 1 ELSE 0 END) AS c
    FROM alldist GROUP BY user_id, i
), coords AS (
    SELECT o.user_id AS user_id, o.lat AS lat, o.lng AS lng,
           min(o.i) AS first_i, min(o.n) AS n, sum(r.c) AS cnt
    FROM ord o JOIN cnt_row r ON r.user_id = o.user_id AND r.i = o.i
    GROUP BY o.user_id, o.lat, o.lng
), best AS (
    SELECT user_id, lat, lng, n, cnt
    FROM coords
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY cnt DESC, first_i ASC) = 1
)
SELECT user_id, lat, lng,
       CASE WHEN n >= 3 AND cnt >= CAST(ceil(0.5 * n) AS BIGINT)
            THEN 1.0 ELSE 0.0 END AS cluster_score,
       (n >= 3 AND cnt >= CAST(ceil(0.5 * n) AS BIGINT)) AS is_high_confidence
FROM best
ORDER BY user_id
"""


# Unroll depth for the G4 trim-loop oracle. The fixture's deepest
# trajectory takes 15 iterations (measured, sf0.01); 18 leaves margin.
# A too-shallow unroll makes still-active users VANISH from the oracle
# output, so a shortfall fails rows_match loudly rather than silently.
_G4_MAX_ITERS = 18

# Pre-round nudge for the 6-decimal centroid output. The centroid is a
# mean of 1e-6-grid coordinates — an exact rational s/m — so at 5-8 dp
# some fixture values sit EXACTLY on a rounding half-boundary, where a
# cross-engine ulp (numpy blocked sum vs SQL fold: measured ≤ 4.3e-14
# deg) flips round() direction. +1e-10 deg shifts every half-boundary
# case 1e-4 grid-units into round-up territory; the nearest OTHER
# rational to a half-boundary is ≥ 1/(2·150) ≈ 3.3e-3 grid-units away
# (m ≤ 150), so every case clears the boundary by ≥ 2000× the engine
# spread. Applied in BOTH the Spark query and the oracle.
_CENTROID_NUDGE = 1e-10



def _trim_loop_ctes(p: str, n_iters: int) -> tuple[str, str, str]:
    """The G4 outlier-trim loop unrolled as SQL CTEs — ONE builder for
    both oracle sites (the standalone G2+G4 oracle, ``p=""``, and the
    refinement oracle's per-cluster trim, ``p="t"``), so the trim
    rule's constants (HAVING count(*) > 3, avgd <= 25.0, the
    10%-or-1 trim size, the <= 3 shrink terminal) can never silently
    diverge between them — they lived as two near-identical ~30-line
    f-string blocks before round 14. Expects a ``{p}kept0`` CTE
    (user_id, pos, lat, lng) in scope; produces ``{p}cent/{p}stat/
    {p}fin/{p}kept/{p}shr`` generations with Vincenty CTEs tagged
    ``{p}{k}`` (distance relations ``cdist{p}{k}``). Returns
    (blocks_sql, fins_union, shrs_union)."""
    blocks = []
    for k in range(n_iters):
        blocks.append(
            f""", {p}cent{k} AS MATERIALIZED (
    SELECT user_id, count(*) AS m,
           sum(lat) / count(*) AS clat, sum(lng) / count(*) AS clng
    FROM {p}kept{k} GROUP BY user_id HAVING count(*) > 3
), {sql_vincenty_center_ctes(f'{p}kept{k}', f'{p}cent{k}', f'{p}{k}')}
, {p}stat{k} AS MATERIALIZED (
    SELECT c.user_id AS user_id, c.m AS m,
           c.clat AS clat, c.clng AS clng,
           sum(dd.d) / c.m AS avgd
    FROM {p}cent{k} c JOIN cdist{p}{k} dd ON dd.user_id = c.user_id
    GROUP BY c.user_id, c.m, c.clat, c.clng
), {p}fin{k} AS MATERIALIZED (
    SELECT user_id, clat, clng FROM {p}stat{k} WHERE avgd <= 25.0
), {p}kept{k + 1} AS MATERIALIZED (
    SELECT user_id, pos, lat, lng FROM (
        SELECT t.user_id AS user_id,
               row_number() OVER (PARTITION BY t.user_id
                                  ORDER BY dd.d ASC, t.pos ASC) AS pos,
               t.lat AS lat, t.lng AS lng, s.m AS m
        FROM {p}kept{k} t
        JOIN cdist{p}{k} dd ON dd.user_id = t.user_id AND dd.pos = t.pos
        JOIN {p}stat{k} s ON s.user_id = t.user_id
        WHERE s.avgd > 25.0
    ) WHERE pos <= m - CAST(trunc(greatest(CAST(m AS DOUBLE) * 0.1, 1.0))
                            AS BIGINT)
), {p}shr{k + 1} AS MATERIALIZED (
    SELECT s.user_id AS user_id, s.clat AS clat, s.clng AS clng
    FROM {p}stat{k} s
    JOIN (SELECT user_id FROM {p}kept{k + 1}
          GROUP BY user_id HAVING count(*) <= 3) x
      ON x.user_id = s.user_id
)"""
        )
    fins = "\nUNION ALL\n".join(
        f"SELECT user_id, clat, clng FROM {p}fin{k}" for k in range(n_iters)
    )
    shrs = "\nUNION ALL\n".join(
        f"SELECT user_id, clat, clng FROM {p}shr{k}"
        for k in range(1, n_iters + 1)
    )
    return "".join(blocks), fins, shrs


def _g2g4_oracle() -> str:
    """G2 + G4 value oracle for ``cluster_score_per_user``.

    Round 6 upgrade from rows-only. The module docstring's two
    robustness concerns were MEASURED at sf0.01 (150 users, 20
    perturbation trials at 1e-9 relative distance noise — 1000× the
    actual numpy↔SQL atan2 wobble) and both have wide margins:

    - G2 argmax: zero flips; no exact float score ties at any max;
      the top-two DISTINCT scores are ≥ 2.3e-3 relative apart, so the
      1e-6 relative candidate band below admits exactly numpy's
      candidate set (wobble 1e-9 ≪ band 1e-6 ≪ gap 2.3e-3).
    - G4 trim loop: zero decision flips (min |avg−25| margin 2.5e-4
      relative ≈ 6e-3 m; min trim-cutoff distance gap 3.7e-3 m, vs
      ≈1e-8 m wobble from centroid summation-order + atan2). The
      centroid VALUE is order-sensitive float arithmetic, so the
      registered output rounds it to 6 dp (~0.11 m — honest precision
      for a 25 m-threshold trim) with the half-boundary nudge above.

    Scale scope, measured honestly: the margins above are properties
    of the GATE fixtures (sf0.001 and sf0.01 both pass the full
    value-hash compare), pinned by tests so a fixture change that
    erodes them fails loudly. They are NOT universal: at a 10×-users
    dataset ~0.7% of groups (≈100 of 15,000) land inside the
    ulp-separated symmetric-pair tie class the round-5 analysis
    predicted, and the selected coordinate legitimately differs
    between engines there — no portable oracle can pin an argmax over
    scores that differ in final ulps. The integer-count selection
    kernels have no such class: G3 and the full G5-G8 refinement
    chain pass the value-hash compare at the 10× dataset unchanged.

    G2 semantics (BestLatLngCalculator.scala:96-137): per-row score
    1/(1+d(i, last differing j)) overwrites per-coordinate; candidates
    = coords at max score; among candidates with ≥ n//2 in-threshold
    neighbors the first strict-max wins, else candidates[0] unscored.
    G4 (BestLatLngCalculator.scala:165-198): iterative 10%-trim
    centroid at the final 25 m threshold, unrolled
    ``_G4_MAX_ITERS``× with per-iteration Vincenty CTE instances.
    """
    nudge = repr(_CENTROID_NUDGE)
    head = f"""
WITH RECURSIVE {_SQL_ORD},
{sql_vincenty_alldist_ctes('WHERE n >= 3')},
g2last AS (
    SELECT user_id, i, d
    FROM alldist WHERE differs
    QUALIFY row_number() OVER (PARTITION BY user_id, i ORDER BY j DESC) = 1
), g2cnt AS (
    SELECT user_id, i,
           sum(CASE WHEN differs AND d <= 200.0 THEN 1 ELSE 0 END) AS c
    FROM alldist GROUP BY user_id, i
), g2coord AS (
    SELECT o.user_id AS user_id, o.lat AS lat, o.lng AS lng,
           min(o.i) AS first_i, max(o.n) AS n,
           coalesce(arg_max(1.0 / (1.0 + l.d),
                            CASE WHEN l.d IS NOT NULL THEN o.i END), 0.0)
               AS score,
           sum(c.c) AS cnt
    FROM ord o
    LEFT JOIN g2last l ON l.user_id = o.user_id AND l.i = o.i
    JOIN g2cnt c ON c.user_id = o.user_id AND c.i = o.i
    WHERE o.n >= 3
    GROUP BY o.user_id, o.lat, o.lng
), g2mx AS (
    SELECT user_id, max(score) AS mxs FROM g2coord GROUP BY user_id
), g2sel AS (
    SELECT c.user_id AS user_id, c.lat AS lat, c.lng AS lng, c.n AS n,
           (c.cnt >= c.n // 2) AS passed
    FROM g2coord c JOIN g2mx m ON m.user_id = c.user_id
    WHERE c.score >= m.mxs * (1.0 - 1e-6)
    QUALIFY row_number() OVER (PARTITION BY c.user_id
        ORDER BY passed DESC,
                 CASE WHEN passed THEN c.cnt ELSE 0 END DESC,
                 c.first_i ASC) = 1
), g2 AS (
    SELECT user_id, lat, lng,
           CASE WHEN passed THEN 1.0 ELSE 0.0 END AS cluster_score,
           CAST(n AS INTEGER) AS n_points
    FROM g2sel
    UNION ALL
    SELECT user_id, lat, lng, 0.0 AS cluster_score,
           CAST(n AS INTEGER) AS n_points
    FROM ord WHERE n < 3 AND i = n
), pts4 AS (
    SELECT user_id, event_id,
           (epoch_ns(ts) // 1000) // 1000 AS ts_ms,
           lat, lng, accuracy
    FROM ({_SQL_GEO_EVENTS})
), ord4 AS MATERIALIZED (
    SELECT user_id, lat, lng, accuracy,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_ms, event_id) AS i
    FROM pts4
), acc4 AS MATERIALIZED (
    SELECT user_id,
           count(CASE WHEN accuracy <= 100.0 THEN 1 END) AS n_acc
    FROM ord4 GROUP BY user_id
), kept0 AS MATERIALIZED (
    SELECT o.user_id AS user_id,
           row_number() OVER (PARTITION BY o.user_id ORDER BY o.i) AS pos,
           o.lat AS lat, o.lng AS lng
    FROM ord4 o JOIN acc4 a ON a.user_id = o.user_id
    WHERE o.accuracy <= 100.0 AND a.n_acc >= 4
)"""
    blocks, fins, shrs = _trim_loop_ctes("", _G4_MAX_ITERS)
    blocks = [blocks]
    tail = f""", g4 AS (
{fins}
UNION ALL
{shrs}
), g4out AS (
    SELECT g.user_id AS user_id,
           round(g.clat + {nudge}, 6) AS centroid_lat,
           round(g.clng + {nudge}, 6) AS centroid_lng,
           CAST(a.n_acc AS INTEGER) AS n_accurate
    FROM g4 g JOIN acc4 a ON a.user_id = g.user_id
    UNION ALL
    SELECT user_id, CAST(NULL AS DOUBLE) AS centroid_lat,
           CAST(NULL AS DOUBLE) AS centroid_lng,
           CAST(n_acc AS INTEGER) AS n_accurate
    FROM acc4 WHERE n_acc < 4
)
SELECT g2.user_id AS user_id, g2.lat AS lat, g2.lng AS lng,
       g2.cluster_score AS cluster_score, g2.n_points AS n_points,
       g4out.centroid_lat AS centroid_lat,
       g4out.centroid_lng AS centroid_lng,
       g4out.n_accurate AS n_accurate
FROM g2 JOIN g4out ON g4out.user_id = g2.user_id
ORDER BY user_id
"""
    return head + "".join(blocks) + tail


# Unroll depth for the refinement pipeline's per-cluster trim loop
# (chosen clusters hold ≤ 15 pings at sf0.01; measured max 4
# iterations; 7 leaves margin — a shortfall drops that delivery's
# CENTROID row and fails rows_match loudly).
_REFINE_TRIM_ITERS = 7


def _refinement_sql_ctes() -> str:
    """Shared CTE body for the G5-G7 refinement oracles, ending in
    ``refres(delivery_id, user_id, is_refined, method, ref_lat,
    ref_lng)`` with RAW coordinates (each consumer rounds its own
    output columns).

    The reference's sequential DBSCAN walk (G5) is replayed exactly as
    a recursive CTE: every distance the walk ever consults is between
    two PINGS of the same user, so the all-pairs Vincenty CTE
    precomputes the full matrix (``ud``, keyed by event ids) and the
    recursion carries only (cluster_seq, head_ev, tail_ev) plus a
    per-ping assignment flag — the drop quirk (within eps of the tail
    but not the head) emits assigned=FALSE and leaves state untouched.
    Cluster membership, centroids and floor-avg timestamps then fall
    out of grouping the assignment log. G6's best-cluster argmin
    (ties to the LATER cluster — the reference's ``<=``) is a window
    over a per-branch metric (centroid distance for accurate
    deliveries via one center-CTE instance, |avg_ts − del_ts|
    otherwise); G3-scoring and the trimmed centroid run over the
    chosen members in PREPEND order (position = i DESC — the
    reference's ``+=:`` list order drives first-occurrence and
    argsort tiebreaks). Stability margins for every float decision in
    this chain are pinned in tests/test_kernel_margins.py (zero flips
    at 1e-9 relative distance noise across all 1,981 fixture
    deliveries).

    MATERIALIZED everywhere a CTE has >1 consumer — DuckDB inlines
    CTEs by default and the chain's expansion is exponential without
    it."""
    head = f"""
spts AS MATERIALIZED (
    SELECT user_id, event_id, event_type,
           ((epoch_ns(ts) // 1000) // 1000) // {_PING_CLOCK_DIV} AS ts_ms,
           lat, lng, accuracy
    FROM ({_SQL_GEO_EVENTS})
), apts AS MATERIALIZED (
    SELECT user_id, event_id, ts_ms, lat, lng, accuracy
    FROM spts WHERE accuracy <= 100.0
), ord AS MATERIALIZED (
    SELECT user_id, event_id, lat, lng,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_ms, event_id) AS i,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM apts
),
{sql_vincenty_alldist_ctes()},
ud AS MATERIALIZED (
    SELECT a.user_id AS user_id, oa.event_id AS e1, ob.event_id AS e2,
           a.d AS d, a.differs AS differs
    FROM alldist a
    JOIN ord oa ON oa.user_id = a.user_id AND oa.i = a.i
    JOIN ord ob ON ob.user_id = a.user_id AND ob.i = a.j
),
dels AS MATERIALIZED (
    SELECT event_id AS did, user_id, ts_ms AS del_ts_ms,
           lat AS del_lat, lng AS del_lng, accuracy AS del_acc
    FROM spts WHERE event_type = 'purchase'
), wp AS MATERIALIZED (
    SELECT d.did AS did, d.user_id AS user_id,
           row_number() OVER (PARTITION BY d.did
                              ORDER BY p.ts_ms, p.event_id) AS i,
           p.event_id AS ev, p.ts_ms AS ts_ms,
           p.lat AS lat, p.lng AS lng, p.accuracy AS accuracy
    FROM dels d JOIN apts p ON p.user_id = d.user_id
     AND p.ts_ms >= d.del_ts_ms - 120000
     AND p.ts_ms <= d.del_ts_ms + 300000
),
walk AS (
    SELECT did, user_id, i, 1 AS cluster_seq, ev AS head_ev, ev AS tail_ev,
           TRUE AS assigned
    FROM wp WHERE i = 1
    UNION ALL
    SELECT w.did, w.user_id, p.i,
           CASE WHEN dh.d <= 50.0 THEN w.cluster_seq
                WHEN dt.d > 50.0 THEN w.cluster_seq + 1
                ELSE w.cluster_seq END,
           CASE WHEN dh.d <= 50.0 OR dt.d > 50.0 THEN p.ev
                ELSE w.head_ev END,
           CASE WHEN dh.d <= 50.0 THEN w.tail_ev
                WHEN dt.d > 50.0 THEN p.ev
                ELSE w.tail_ev END,
           (dh.d <= 50.0 OR dt.d > 50.0) AS assigned
    FROM walk w
    JOIN wp p ON p.did = w.did AND p.i = w.i + 1
    JOIN ud dh ON dh.user_id = w.user_id AND dh.e1 = p.ev
              AND dh.e2 = w.head_ev
    JOIN ud dt ON dt.user_id = w.user_id AND dt.e1 = p.ev
              AND dt.e2 = w.tail_ev
),
memb AS MATERIALIZED (
    SELECT m.did AS did, m.user_id AS user_id, m.cluster_seq AS cluster_seq,
           m.i AS i, p.ev AS ev, p.lat AS lat, p.lng AS lng,
           p.accuracy AS accuracy, p.ts_ms AS ts_ms
    FROM walk m JOIN wp p ON p.did = m.did AND p.i = m.i
    WHERE m.assigned
),
clus AS MATERIALIZED (
    SELECT did, user_id, cluster_seq, count(*) AS m,
           sum(lat) / count(*) AS clat, sum(lng) / count(*) AS clng,
           sum(ts_ms) // count(*) AS avg_ts
    FROM memb GROUP BY did, user_id, cluster_seq
    HAVING count(*) >= 3
),
delpt AS MATERIALIZED (
    SELECT c.did * 1000 + c.cluster_seq AS user_id, 1 AS pos,
           d.del_lat AS lat, d.del_lng AS lng
    FROM clus c JOIN dels d ON d.did = c.did
    WHERE d.del_acc <= 100.0
), delcent AS MATERIALIZED (
    SELECT did * 1000 + cluster_seq AS user_id, clat, clng
    FROM clus c WHERE EXISTS (SELECT 1 FROM dels d
                              WHERE d.did = c.did AND d.del_acc <= 100.0)
),
{sql_vincenty_center_ctes('delpt', 'delcent', 'del')}
, chosen AS MATERIALIZED (
    SELECT did, user_id, cluster_seq, m, clat, clng FROM (
        SELECT c.did AS did, c.user_id AS user_id,
               c.cluster_seq AS cluster_seq, c.m AS m,
               c.clat AS clat, c.clng AS clng,
               CASE WHEN d.del_acc <= 100.0 THEN cd.d
                    ELSE CAST(abs(c.avg_ts - d.del_ts_ms) AS DOUBLE)
               END AS metric,
               (d.del_acc > 100.0 OR cd.d <= 100.0) AS eligible
        FROM clus c
        JOIN dels d ON d.did = c.did
        LEFT JOIN cdistdel cd ON cd.user_id = c.did * 1000 + c.cluster_seq
    ) WHERE eligible
    QUALIFY row_number() OVER (PARTITION BY did
                               ORDER BY metric ASC, cluster_seq DESC) = 1
),
cm AS MATERIALIZED (
    SELECT m.did AS did, m.user_id AS user_id, m.i AS i, m.ev AS ev,
           m.lat AS lat, m.lng AS lng, m.accuracy AS accuracy, ch.m AS n
    FROM memb m JOIN chosen ch
      ON ch.did = m.did AND ch.cluster_seq = m.cluster_seq
),
cmrow AS MATERIALIZED (
    SELECT a.did AS did, a.ev AS ev,
           sum(CASE WHEN ud.differs AND ud.d <= 200.0 THEN 1 ELSE 0 END) AS c
    FROM cm a JOIN cm b ON b.did = a.did
    JOIN ud ON ud.user_id = a.user_id AND ud.e1 = a.ev AND ud.e2 = b.ev
    GROUP BY a.did, a.ev
),
cmcoord AS MATERIALIZED (
    SELECT a.did AS did, a.lat AS lat, a.lng AS lng,
           max(a.i) AS first_prepend_i, max(a.n) AS n, sum(r.c) AS cnt
    FROM cm a JOIN cmrow r ON r.did = a.did AND r.ev = a.ev
    GROUP BY a.did, a.lat, a.lng
),
score_sel AS MATERIALIZED (
    SELECT did, lat, lng, n, cnt,
           (n >= 3 AND cnt >= CAST(ceil(0.5 * n) AS BIGINT)) AS high
    FROM cmcoord
    QUALIFY row_number() OVER (PARTITION BY did
                               ORDER BY cnt DESC, first_prepend_i DESC) = 1
),
tkept0 AS MATERIALIZED (
    SELECT did AS user_id,
           row_number() OVER (PARTITION BY did ORDER BY i DESC) AS pos,
           lat, lng
    FROM cm
)"""
    blocks, fins, shrs = _trim_loop_ctes("t", _REFINE_TRIM_ITERS)
    blocks = [blocks]
    tail = f""", tcentroid AS MATERIALIZED (
{fins}
UNION ALL
{shrs}
), refres AS MATERIALIZED (
    SELECT d.did AS delivery_id, d.user_id AS user_id,
           (ch.did IS NOT NULL) AS is_refined,
           CASE WHEN ch.did IS NULL THEN 'ORIGINAL_DELIVERED_LOCATION'
                WHEN ss.high THEN 'CLUSTER_GEOCODE_SCORE_HIGH'
                ELSE 'CLUSTER_GEOCODE_SCORE_LOW' END AS method,
           CASE WHEN ch.did IS NULL THEN d.del_lat ELSE ss.lat END AS ref_lat,
           CASE WHEN ch.did IS NULL THEN d.del_lng ELSE ss.lng END AS ref_lng
    FROM dels d
    LEFT JOIN chosen ch ON ch.did = d.did
    LEFT JOIN score_sel ss ON ss.did = d.did
    UNION ALL
    SELECT ch.did AS delivery_id, ch.user_id AS user_id,
           TRUE AS is_refined, 'CLUSTER_CENTROID' AS method,
           tc.clat AS ref_lat, tc.clng AS ref_lng
    FROM chosen ch JOIN tcentroid tc ON tc.user_id = ch.did
)"""
    return head + "".join(blocks) + tail


def _g5g7_oracle() -> str:
    """G5-G7 value oracle for ``delivery_refinement`` — the shared
    refinement CTE body with the registered surface's nudged 6 dp
    coordinate rounding."""
    nudge = repr(_CENTROID_NUDGE)
    return f"""
WITH RECURSIVE {_refinement_sql_ctes()}
SELECT delivery_id, user_id, is_refined, method,
       round(ref_lat + {nudge}, 6) AS ref_lat,
       round(ref_lng + {nudge}, 6) AS ref_lng
FROM refres
ORDER BY delivery_id, method
"""


def _g8_oracle() -> str:
    """G8 value oracle for ``delivery_refined_history``: latest
    REFINED delivery per user (dense_rank over del_ts, delivery_id —
    both result rows of the winner survive), both-coords-differ
    survivor rule against the raw delivered point, newest-100 cap net
    of the refined-row budget, 198.0 accuracy sentinel."""
    nudge = repr(_CENTROID_NUDGE)
    return f"""
WITH RECURSIVE {_refinement_sql_ctes()},
latest AS MATERIALIZED (
    SELECT * FROM (
        SELECT r.delivery_id AS delivery_id, r.user_id AS user_id,
               r.method AS method, r.ref_lat AS ref_lat,
               r.ref_lng AS ref_lng, d.del_ts_ms AS del_ts_ms,
               d.del_lat AS del_lat, d.del_lng AS del_lng,
               dense_rank() OVER (PARTITION BY r.user_id
                                  ORDER BY d.del_ts_ms DESC,
                                           r.delivery_id DESC) AS rk
        FROM refres r JOIN dels d ON d.did = r.delivery_id
        WHERE r.is_refined
    ) WHERE rk = 1
), refcnt AS MATERIALIZED (
    SELECT user_id, count(*) AS n_ref,
           any_value(del_lat) AS del_lat, any_value(del_lng) AS del_lng
    FROM latest GROUP BY user_id
)
SELECT user_id, event_id, ts_ms,
       round(lat + {nudge}, 6) AS lat,
       round(lng + {nudge}, 6) AS lng,
       accuracy, method
FROM (
    SELECT p.user_id AS user_id, p.event_id AS event_id,
           p.ts_ms AS ts_ms, p.lat AS lat, p.lng AS lng,
           p.accuracy AS accuracy, CAST(NULL AS VARCHAR) AS method
    FROM spts p JOIN refcnt rc ON rc.user_id = p.user_id
    WHERE p.lat != rc.del_lat AND p.lng != rc.del_lng
    QUALIFY row_number() OVER (PARTITION BY p.user_id
                               ORDER BY p.ts_ms DESC, p.event_id DESC)
            <= 100 - rc.n_ref
    UNION ALL
    SELECT user_id, delivery_id AS event_id, del_ts_ms AS ts_ms,
           ref_lat AS lat, ref_lng AS lng, 198.0::DOUBLE AS accuracy,
           method
    FROM latest
)
ORDER BY user_id, ts_ms, event_id, method
"""


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel input points on the raw clock — deliberately NOT
    materialized: each wrapper re-reads it (guard aggregate + kernel
    join side), but at 100 TB a re-scan is pruned columnar IO while a
    checkpoint would write the full fact-table-wide relation once per
    query (measured a wash at sf0.1: ±0.1 s on every G1-G4 query).
    Contrast :func:`_scaled_geo_points`, whose four-consumer
    refinement pipeline does win from materialization.

    Finiteness invariant (round 14): lat/lng here are total md5-chain
    derivations over non-null event_id (geo_events) — every output is
    a finite double, never NULL/NaN. The kernel call sites therefore
    pass ``assume_finite=True``: the `_finite_points` guard would
    remove zero rows while re-inlining this whole derivation into a
    Filter on both kernel subtrees (measured ×1.9 on the G1 row —
    see operators/grouped.py::_finite_points).

    ``spread=True`` (round 15): the md5 chain otherwise runs on the
    single-file scan's one partition in EVERY consumer (the kernel
    wrappers' keyed repartition sits ABOVE this projection, so their
    guard aggregate and join side each re-derive it single-threaded;
    measured 0.71 → 0.37 s per pass at sf0.1)."""
    ge = geo_events(spark, sf_dir, spread=True)
    return ge.select(
        "user_id",
        "event_id",
        ts_millis("ts").alias("ts_ms"),
        "lat",
        "lng",
        "accuracy",
    )


# Fixture clock compression for the ping-refinement queries ONLY.
# The reference's pings arrive seconds apart (its ±120 s / +300 s
# window holds dozens), while the synthetic events table spreads ~67
# events per user over 30 days (~10.7 h cadence) — on the raw clock
# the DBSCAN min-count can never be met and G5-G7 would only ever
# exercise their fallback. Dividing the epoch-ms clock by 1500 gives
# a ~26 s per-user cadence (the reference's data shape) without
# touching any kernel constant; integer DIV keeps it bit-exact and
# oracle-portable. G1-G4 stay on the raw clock (they only order by
# time).
_PING_CLOCK_DIV = 1500


def _sorted_out(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic output order WITHOUT re-running the kernel: a
    global orderBy range-partitions, and RangePartitioning runs a
    separate boundary-SAMPLING job over its child — executing the
    whole Arrow+Python pipeline TWICE (measured +50% on every kernel
    query at sf0.1). The lazy checkpoint (operators/checkpoint.py
    materialize: executor-local by default, RELIABLE on clusters via
    configure_reliable_checkpoints / SPARK_GRAFT_CHECKPOINT_DIR)
    materializes the small kernel output once; the sampling job then
    reads the checkpoint blocks instead of re-running the kernel."""
    return df.transform(materialize).orderBy(*cols)


def _scaled_geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-clock kernel input, MATERIALIZED once per call —
    the refinement pipeline reads it as deliveries + pings (2×), and
    the G8 history merge adds two more consumers when it passes this
    relation through (see :func:`delivery_refined_history`). Unlike
    :func:`_geo_points` this wins at scale too: the checkpointed
    relation is the 7-column pruned projection (~50 B/row), far
    narrower than the source fact rows, and it replaces up to four
    full md5-projection passes (measured: delivery_refined_history
    6.8 → 3.8 s at sf0.1). ``spread=True`` (round 15) widens the raw
    scan so the one derivation pass — and the checkpoint blocks every
    consumer reads — runs cores-wide instead of on the single-file
    scan's one partition."""
    ge = geo_events(spark, sf_dir, spread=True)
    return materialize(
        ge.select(
            "user_id",
            "event_id",
            "event_type",
            ts_millis("ts", clock_div=_PING_CLOCK_DIV).alias("ts_ms"),
            "lat",
            "lng",
            "accuracy",
        )
    )


# ---------------------------------------------------------------------
# Bucketed serve path for the refinement pipeline (round 11).
#
# The reference re-runs DeliveryLocationRefinementApp every 120 min
# (JOBS/DeliveryLocationRefinementApp.scala:33,67) over the same
# accumulating point history — the write-once-analyze-many shape. The
# plain plan pays, per run: the md5 geo projection over the full
# events scan, a user_id shuffle of BOTH interval-join sides, and the
# kernel's delivery_id shuffle. The layout pays the projection and the
# user_id shuffle ONCE at write time (a user_id-bucketed, sorted
# catalog table of the scaled 7-column projection); every later run
# gets an Exchange-free sort-merge interval join between two filters
# of the same buckets, and the kernel streams the join output in place
# (pre_partitioned — safe unconditionally, see
# operators/grouped.py::apply_delivery_refinement).
# ---------------------------------------------------------------------
# Queries route to the layout above this many event rows ('auto'):
# every gate/bench corpus (sf0.001/0.01/0.1 ≤ 1M rows) keeps the
# committed plan the plan-audit tests pin; the 100×/1000× scale points
# serve from the layout. The scale harness and the bench's bucketed
# row patch this floor to serve every decade from the layout (one
# arm's slope); tests patch it to pin either arm.
_REFINE_LAYOUT_FLOOR_ROWS = 1_500_000
_EVENTS_ROWS_MEMO: dict = {}


def _events_files(sf_dir: str) -> list[str]:
    import os

    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(src):
        return [src]
    return [
        os.path.join(base, f)
        for base, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    ]


def _events_rows(sf_dir: str) -> int:
    """events row count from parquet FOOTERS (no Spark job), memoized
    per (size, mtime) — the similarity._corpus_rows discipline."""
    import os

    import pyarrow.parquet as pq

    files = _events_files(sf_dir)
    key = tuple(
        (f, os.path.getsize(f), os.stat(f).st_mtime_ns) for f in files
    )
    if key in _EVENTS_ROWS_MEMO:
        return _EVENTS_ROWS_MEMO[key]
    n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    _EVENTS_ROWS_MEMO[key] = n
    return n


def ensure_refinement_layout(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: "int | None" = None,
    index_root: "str | None" = None,
) -> str:
    """Build-once bucketed layout of the scaled kernel points for
    ``sf_dir``; returns the registered catalog table name.

    Data rides the shared on-disk fingerprint cache
    (:func:`~pulsar_spark_spark.plans.similarity._ensure_index` —
    built in a staging dir, swapped in whole, invalidated when the
    source events parquet changes), so the expensive part (projection
    + bucket shuffle + write) is paid once per corpus across sessions.
    Bucket metadata lives only in a catalog, so each session cheaply
    re-registers an EXTERNAL table definition over the cached files
    (sources/bucketed.py::register_external_bucketed); dropping the
    definition never touches the data.

    ``n_buckets`` defaults to ~25M rows per bucket in units of 32
    (one wave of local[32]; a cluster profile passes its own) — it is
    part of the cache key, so resizing rebuilds.
    """
    import hashlib
    import math
    import os
    import uuid

    from pulsar_spark_spark.plans.similarity import _ensure_index
    from pulsar_spark_spark.sources.bucketed import (
        register_external_bucketed,
        save_bucketed,
    )

    if n_buckets is None:
        n_buckets = 32 * max(1, math.ceil(_events_rows(sf_dir) / 25_000_000))

    def build(tmp: str) -> None:
        ge = geo_events(spark, sf_dir)
        pts = ge.select(
            "user_id",
            "event_id",
            "event_type",
            ts_millis("ts", clock_div=_PING_CLOCK_DIV).alias("ts_ms"),
            "lat",
            "lng",
            "accuracy",
        )
        tmp_table = f"refine_pts_build_{uuid.uuid4().hex[:10]}"
        try:
            save_bucketed(
                pts,
                tmp_table,
                "user_id",
                n_buckets,
                sort_cols=("user_id",),
                path=os.path.join(tmp, "data"),
            )
        finally:
            # external table: dropping the definition keeps the files
            spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")

    idx = _ensure_index(
        "refine_pts",
        sf_dir,
        {"n_buckets": n_buckets, "clock_div": _PING_CLOCK_DIV, "v": 2},
        build,
        index_root=index_root,
        # the layout is built FROM events — fingerprint those files,
        # not the default embeddings source (round-13 ADVICE high: a
        # regenerated events.parquet must invalidate this cache)
        source_table="events",
    )
    table = "refine_pts_{}_{}".format(
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10],
        n_buckets,
    )
    register_external_bucketed(
        spark,
        table,
        os.path.join(idx, "data"),
        (
            "user_id BIGINT, event_id BIGINT, event_type STRING, "
            "ts_ms BIGINT, lat DOUBLE, lng DOUBLE, accuracy DOUBLE"
        ),
        "user_id",
        n_buckets,
        sort_cols=("user_id",),
    )
    return table


def _refinement_input(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, bool]":
    """(points relation, serving_from_layout) for the refinement
    queries — the arm-routing contract documented above
    ``_REFINE_LAYOUT_FLOOR_ROWS``. The bucketed relation is NOT
    materialized: the layout already IS the narrow projection on disk,
    so each consumer's re-scan is pruned columnar IO against bucketed
    files (the :func:`_geo_points` argument), while localCheckpointing
    it would both copy the full relation into the block manager and
    hide the scan's bucket partitioning from the planner."""
    if _events_rows(sf_dir) <= _REFINE_LAYOUT_FLOOR_ROWS:
        return _scaled_geo_points(spark, sf_dir), False
    table = ensure_refinement_layout(spark, sf_dir)
    return spark.table(table), True


@query("best_latlng_per_user", oracle=_g1_oracle())
def best_latlng_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: per-user best location by 300 m Vincenty neighbor count."""
    return _sorted_out(
        apply_best_latlng(_geo_points(spark, sf_dir), assume_finite=True),
        "user_id",
    )


@query("cluster_score_per_user", oracle=_g2g4_oracle())
def cluster_score_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 + G4: per-user best location + 0/1 cluster confidence score,
    joined with the outlier-trimmed centroid.

    Round 5: absorbs the former ``trimmed_centroid_per_user`` query
    (registry consolidated to fit the driver's 50-row correctness
    gate). Both kernels keep their own JVM guard pre-dispatch; the
    150-row outputs equi-join on user_id for free under AQE broadcast.

    Round 6: upgraded from rows-only to a full value oracle
    (:func:`_g2g4_oracle`) after measuring the float-robustness
    concerns and finding wide margins (see that docstring). The
    centroid columns are rounded to 6 dp (~0.11 m) with a pre-round
    half-boundary nudge — honest output precision for a kernel whose
    own trim threshold is 25 m, and what makes the computed-double
    columns hash-stable across engines. Pytest parity vs the
    independent transliteration (tests/geo_oracle.py) is retained at
    full double precision underneath.
    """
    pts = _geo_points(spark, sf_dir)
    merged = apply_cluster_score(pts, assume_finite=True).join(
        apply_trimmed_centroid(pts, assume_finite=True), "user_id"
    )
    merged = merged.withColumn(
        "centroid_lat", F.round(col("centroid_lat") + F.lit(_CENTROID_NUDGE), 6)
    ).withColumn(
        "centroid_lng", F.round(col("centroid_lng") + F.lit(_CENTROID_NUDGE), 6)
    )
    return _sorted_out(merged, "user_id")


@query("ping_cluster_score_per_user", oracle=_g3_oracle())
def ping_cluster_score_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: ping-cluster scoring variant (argmax neighbors, real ceil)."""
    return _sorted_out(
        apply_cluster_score_v3(_geo_points(spark, sf_dir), assume_finite=True),
        "user_id",
    )




def _refinement_results(
    spark: SparkSession,
    sf_dir: str,
    pts: DataFrame | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Unsorted G5-G7 refinement pipeline (shared by the registered
    query and the G8 history merge, which must not inherit the
    registered form's output sort/checkpoint mid-pipeline). ``pts``
    lets the history merge pass its already-materialized scaled
    points so the md5 geo projection is computed once per query;
    ``pre_partitioned=True`` (the bucketed serve arm) deletes the
    kernel's delivery_id shuffle — unconditionally safe here, see
    :func:`~pulsar_spark_spark.operators.grouped
    .apply_delivery_refinement`."""
    if pts is None:
        pts = _scaled_geo_points(spark, sf_dir)
    deliveries = pts.filter(col("event_type") == "purchase").select(
        col("event_id").alias("delivery_id"),
        col("user_id"),
        col("ts_ms").alias("del_ts_ms"),
        col("lat").alias("del_lat"),
        col("lng").alias("del_lng"),
        col("accuracy").alias("del_accuracy"),
    )
    pings = pts.select(
        col("user_id").alias("p_user_id"),
        col("event_id").alias("p_event_id"),
        col("ts_ms").alias("p_ts_ms"),
        col("lat").alias("p_lat"),
        col("lng").alias("p_lng"),
        col("accuracy").alias("p_accuracy"),
    ).filter(col("p_accuracy") <= 100.0)
    joined = deliveries.join(
        pings,
        (col("user_id") == col("p_user_id"))
        & (col("p_ts_ms") >= col("del_ts_ms") - 120_000)
        & (col("p_ts_ms") <= col("del_ts_ms") + 300_000),
        "left",
    ).drop("p_user_id")
    return apply_delivery_refinement(joined, pre_partitioned=pre_partitioned)


def _round6(name: str) -> F.Column:
    """The registered surface's coordinate rounding: nudged 6 dp
    (~0.11 m — see ``_CENTROID_NUDGE``). Null-safe (null + nudge stays
    null)."""
    return F.round(col(name) + F.lit(_CENTROID_NUDGE), 6)


@query("delivery_refinement", oracle=_g5g7_oracle())
def delivery_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5-G7: refine each 'purchase' (delivery analog) from the user's
    surrounding pings via DBSCAN → best-cluster → score/centroid.

    The candidate set is the reference's T4 interval join: pings of
    the same user in [delivery−120 s, +300 s] with accuracy ≤ 100
    (DeliveryLocationRefinementService.scala:99-106) — an equi-join on
    user_id with a range residual, one shuffle, and the kernel runs
    per delivery group. Runs on the compressed fixture clock (see
    ``_PING_CLOCK_DIV``) so the window genuinely holds pings and the
    G5→G6→G3/G4 chain executes, not just its fallback.

    Round 6: upgraded from rows-only to a full value oracle
    (:func:`_g5g7_oracle` — the sequential DBSCAN walk replayed as a
    recursive CTE over precomputed ping-pair distances), with the
    same nudged 6 dp coordinate rounding as the G4 surface; stability
    margins for every float decision in the chain are measured and
    pinned in tests/test_kernel_margins.py.

    Round 11: above ``_REFINE_LAYOUT_FLOOR_ROWS`` the pipeline serves from the
    write-once bucketed layout — identical rows (pinned in
    tests/test_bucketed.py), zero per-run projection/shuffle cost.
    """
    pts, from_layout = _refinement_input(spark, sf_dir)
    res = (
        _refinement_results(
            spark, sf_dir, pts=pts, pre_partitioned=from_layout
        )
        .withColumn("ref_lat", _round6("ref_lat"))
        .withColumn("ref_lng", _round6("ref_lng"))
    )
    return _sorted_out(res, "delivery_id", "method")


def merge_refined_into_history(
    points: DataFrame,
    refined: DataFrame,
    broadcast_survivor_dim: bool = True,
) -> DataFrame:
    """G8 as declarative DataFrame ops: swap refined locations into the
    per-user point history (DeliveryLocationRefinementService.scala:
    257-284).

    ``points``: (user_id, event_id, ts_ms, lat, lng, accuracy) — the
    per-user history. ``refined``: (user_id, delivery_id, del_ts_ms,
    del_lat, del_lng, method, ref_lat, ref_lng) — 1-2 refined result
    rows for ONE delivery per user.

    Reference semantics, re-expressed relationally:
    - a history entry survives only if BOTH coordinates differ from
      the delivered point (the reference's ``&&`` — an entry sharing
      just one coordinate is dropped): an equi-join + conjunctive
      filter, no Python;
    - refined points are appended with the 198.0 accuracy sentinel at
      the delivery timestamp;
    - the cap keeps the newest 100 POSITIONALLY from the time-sorted
      survivors ++ refined concatenation (takeRight), so refined rows
      always survive and each user keeps at most 100 − n_refined
      history rows — a row_number window against that per-user budget,
      one user_id shuffle, no unbounded buffer.

    Output: (user_id, event_id, ts_ms, lat, lng, accuracy, method)
    with method NULL for surviving history rows.
    """
    n_ref = Window.partitionBy("user_id")
    ref = refined.withColumn("__n_ref", F.count(F.lit(1)).over(n_ref))
    # BROADCAST the survivor dim (default): it holds ONE row per user
    # with a refined delivery in this batch — bounded by the
    # refinement batch (the reference refines one 120-min window per
    # run, DeliveryLocationRefinementApp.scala:33), not by the corpus
    # — so it broadcasts at any corpus size. The alternative SMJ
    # re-sorts the ~full-corpus ``points`` side by user_id BEFORE the
    # window sorts it again by (ts, event): measured 27.1 → 15.7 s at
    # 100× (the broadcast join preserves the bucketed layout's
    # user_id partitioning, leaving the window's local sort as the
    # only big-side work).
    #
    # INVARIANT the caller must hold for the default: ``refined`` is
    # one refinement batch (≤ one window of deliveries), small enough
    # for the driver to hold ~(user_id, 2 doubles, long) per user.
    # The explicit hint bypasses autoBroadcastJoinThreshold, so an
    # unbounded ``refined`` (e.g. a full-history backfill) would OOM
    # the driver: pass ``broadcast_survivor_dim=False`` there and the
    # plan degrades safely to the shuffle join, same results
    # (tests/test_kernels.py pins both arms identical).
    dim = ref.select("user_id", "del_lat", "del_lng", "__n_ref").distinct()
    if broadcast_survivor_dim:
        dim = F.broadcast(dim)
    w_cap = Window.partitionBy("user_id").orderBy(
        col("ts_ms").desc(), col("event_id").desc()
    )
    survivors = (
        points.join(dim, "user_id")
        .filter((col("lat") != col("del_lat")) & (col("lng") != col("del_lng")))
        .withColumn("__rn", F.row_number().over(w_cap))
        .filter(col("__rn") <= F.lit(100) - col("__n_ref"))
        .select(
            "user_id", "event_id", "ts_ms", "lat", "lng", "accuracy",
            F.lit(None).cast("string").alias("method"),
        )
    )
    refined_rows = ref.select(
        "user_id",
        col("delivery_id").alias("event_id"),
        col("del_ts_ms").alias("ts_ms"),
        col("ref_lat").alias("lat"),
        col("ref_lng").alias("lng"),
        F.lit(198.0).alias("accuracy"),
        "method",
    )
    return survivors.unionByName(refined_rows)


@query("delivery_refined_history", oracle=_g8_oracle())
def delivery_refined_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: swap each user's LATEST refined delivery into their point
    history (both-coords-differ survivor rule, 198.0 sentinel, cap 100)
    — the last stage of the reference's flagship refinement flow
    (DeliveryLocationRefinementService.scala:257-284).

    Users whose latest-delivery refinement fell back to the original
    location (is_refined = false) keep their history untouched and are
    not re-emitted, mirroring the reference's refined-rows-only merge.

    Round 6: full value oracle (:func:`_g8_oracle` on top of the
    shared refinement CTE body); output coordinates carry the nudged
    6 dp surface rounding (survivor-rule comparisons stay on the raw
    doubles in both engines).
    """
    # plain arm: one materialization, four consumers (history rows,
    # the delivery dim, and the refinement pipeline's delivery/ping
    # sides). Bucketed arm: the layout IS the materialized projection
    # on disk — consumers re-scan pruned bucketed files instead.
    pts_all, from_layout = _refinement_input(spark, sf_dir)
    pts = pts_all.drop("event_type")
    deliveries = pts_all.filter(col("event_type") == "purchase").select(
        col("event_id").alias("delivery_id"),
        col("ts_ms").alias("del_ts_ms"),
        col("lat").alias("del_lat"),
        col("lng").alias("del_lng"),
    )
    # latest refined delivery per user; dense_rank keeps BOTH result
    # rows (score + centroid) of the winning delivery
    w_latest = Window.partitionBy("user_id").orderBy(
        col("del_ts_ms").desc(), col("delivery_id").desc()
    )
    chosen = (
        _refinement_results(
            spark, sf_dir, pts=pts_all, pre_partitioned=from_layout
        )
        .filter(col("is_refined"))
        .join(deliveries, "delivery_id")
        .withColumn("__rk", F.dense_rank().over(w_latest))
        .filter(col("__rk") == 1)
        .drop("__rk")
        # two downstream consumers (refined rows + the survivor dim);
        # materialize the Python refinement pipeline ONCE
        .transform(materialize)
    )
    # plain orderBy here, NOT _sorted_out: the expensive Python stage
    # already sits behind ``chosen``'s checkpoint, so the sort's
    # sampling pass re-runs only the cheap JVM merge — cheaper than
    # checkpointing the full merged history (measured at sf0.1).
    return (
        merge_refined_into_history(pts, chosen)
        .withColumn("lat", _round6("lat"))
        .withColumn("lng", _round6("lng"))
        .orderBy("user_id", "ts_ms", "event_id", "method")
    )
