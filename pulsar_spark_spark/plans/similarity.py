"""Similarity search over the ``embeddings`` table (array<float> vecs).

Brief components:

- ``ann_topk_bruteforce`` — exact cosine top-k for a fixed query set:
  broadcast the (tiny) query side against the full corpus, rank per
  query. The correctness baseline every approximate variant is
  measured against.
- ``ann_topk_lsh`` — the scale path: signed-random-projection LSH
  (md5-seeded ±1 hyperplanes over ALL dimensions) buckets both sides
  across 4 independent tables with Hamming-1 multiprobe; each query
  scans only its buckets, then exact-cosine reranks within them. At
  100 TB the (table, bucket) key is the join/shuffle key, so work is
  O(corpus/buckets) per query instead of O(corpus); recall is tuned
  by bit width, table count and probing (measured ladder in
  tests/test_similarity.py).
- ``embedding_near_dup_pairs`` / ``embedding_dedup_clusters`` —
  embedding-cosine near-dup dedup with the full skew-guard stack
  (round 8): identical embeddings collapse to one representative,
  4×8-bit SRP tables with a per-bucket cap generate candidates,
  exact cosine verifies, members fan back out, and clustering runs
  at representative level — never all-pairs, never quadratic in
  copies.

Floating-point parity with the oracle is engineered, not hoped for:
both sides promote float32→float64 per element and accumulate with a
sequential left fold (Spark ``aggregate``, DuckDB ``list_reduce``),
so dot products are bit-identical and rounding is stable.

The reference has no vector operators; this is the training-data
extension surface (brief), built on the same expression-first spine
as the geo distance functions (functions/geo.py).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast, col

from pulsar_spark_spark.operators.checkpoint import (
    broadcast_if_bounded,
    materialize,
)
from pulsar_spark_spark.plans.registry import query
from pulsar_spark_spark.sources.tables import load_table

# ---------------------------------------------------------------------
# vector expression builders (JVM-side, no UDF)
# ---------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Sequential-left-fold dot product in float64 (oracle-parity)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    """Euclidean norm with the same fold discipline as :func:`dot`."""
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """NULL — not an ANSI divide-by-zero error — when either vector
    has zero norm: a NULL cosine fails every ``>=`` gate, so
    degenerate (all-zero) embeddings never cluster and never crash a
    pipeline mid-corpus."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


_EMB_DIM = 64


def _srp_hyperplanes(n_bits: int, dim: int = _EMB_DIM, seed: str = "srp") -> list:
    """Deterministic ±1 random-projection hyperplanes (md5-seeded).

    Classic signed-random-projection LSH (SimHash for vectors): bit j
    is sign(r_j · v) with r_j a pseudo-random ±1 vector. Each bit uses
    ALL dimensions, so bits correlate with overall cosine — measured
    at fixture scale this roughly doubles recall@10 vs the previous
    first-n-coordinates sign hash at the same bit width. md5 parity
    keeps the planes reproducible verbatim in the DuckDB oracle.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def sign_bucket(a_sql: str, n_bits: int, seed: str = "srp") -> Column:
    """SRP-LSH bucket key: n_bits sign bits of ±1 hyperplane dots,
    computed with the same sequential fold as :func:`dot` so the
    oracle twin (:func:`_sql_bucket`) is bit-identical. ``seed``
    selects an independent hyperplane family (one per hash table).

    ``a_sql`` is the embedding column as a SQL fragment (usually just
    the column name): the expression is built as ONE Spark-SQL string
    parsed JVM-side in a single call. Building it with the Column API
    instead costs n_bits × (dim + ~6) py4j round-trips — measured
    ~1.4 s of DRIVER time per plan build at 4 tables × 4 bits × 64
    dims, dwarfing the 0.1 s of executor work it encodes.

    Dim robustness (round 11): the hyperplanes are ``_EMB_DIM``-wide
    and ``zip_with`` pads the shorter array with NULLs, so a vector of
    any OTHER dimensionality used to NULL-poison the whole fold —
    every bucket became the constant all-'0' key, the hot-bucket cap
    (correctly) dropped it, and the pipeline returned ZERO pairs
    silently (found by the round-11 multiprobe fixture). The fold now
    coalesces each term to 0.0, which is exactly "project onto the
    first min(dim, _EMB_DIM) components" — a valid (if
    lower-resolution) SRP for short vectors, a truncated projection
    for long ones, and BIT-IDENTICAL on conforming corpora (the
    coalesce never fires at dim == _EMB_DIM, which is all the DuckDB
    oracle ever sees).
    """
    bits = []
    for row in _srp_hyperplanes(n_bits, seed=seed):
        lit = "array(" + ", ".join(f"{v:.1f}D" for v in row) + ")"
        # twin of dot(): zip_with(plane, vec, x*y) then sequential fold
        d = (
            f"aggregate(zip_with({lit}, {a_sql}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + coalesce(x, 0.0D))"
        )
        bits.append(f"(CASE WHEN {d} >= 0 THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(bits) + ")")




# DuckDB twins of the expression builders -----------------------------


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i]::DOUBLE) * ({b}[i]::DOUBLE)), (x, y) -> x + y)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i]::DOUBLE) * ({a}[i]::DOUBLE)), (x, y) -> x + y))"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}))"


def _sql_bucket(a: str, n_bits: int, seed: str = "srp") -> str:
    bits = []
    for row in _srp_hyperplanes(n_bits, seed=seed):
        lit = "[" + ", ".join(f"{v:.1f}" for v in row) + "]"
        bits.append(f"(CASE WHEN {_sql_dot(lit, a)} >= 0 THEN '1' ELSE '0' END)")
    return "(" + " || ".join(bits) + ")"


def _sql_lsh_corpus(n_tables: int, n_bits: int) -> str:
    """(vec_id, embedding, tbl, bucket) — one arm per hash table, each
    with its own hyperplane family, twin of lsh_topk's explode."""
    return " UNION ALL ".join(
        f"SELECT vec_id, embedding, {j} AS tbl, "
        f"{_sql_bucket('embedding', n_bits, 'srp' if j == 0 else f'srp{j}')}"
        f" AS bucket FROM embeddings"
        for j in range(n_tables)
    )


_N_QUERIES = 5  # vec_id < 5 form the query set
_TOP_K = 10
_LSH_BITS = 4
_LSH_TABLES = 4  # registered-query default: recall 0.96 w/ multiprobe
_NEAR_DUP_COS = 0.35


# ---------------------------------------------------------------------
# brute-force exact top-k
# ---------------------------------------------------------------------
@query(
    "ann_topk_bruteforce",
    oracle=f"""
        SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
        FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {_sql_cosine('q.embedding', 'e.embedding')} AS cos_sim,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_sql_cosine('q.embedding', 'e.embedding')} DESC,
                                e.vec_id
                   ) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < {_N_QUERIES}) q
            JOIN embeddings e ON e.vec_id <> q.vec_id
        )
        WHERE rank <= {_TOP_K}
        ORDER BY query_id, rank
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, scan the corpus once.

    The query side is k rows → broadcast-join (no shuffle of the
    corpus); the only shuffle is the per-query top-k window over
    |queries|×|corpus| scored pairs, which AQE keeps tiny. This is the
    recall-1.0 baseline for the LSH variant.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    joined = emb.join(broadcast(q), col("vec_id") != col("query_id"))
    scored = joined.select(
        "query_id",
        col("vec_id").alias("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).alias("cos_sim"),
    )
    return _rerank_topk(scored, _TOP_K)


def _rerank_topk(scored: DataFrame, top_k: int) -> DataFrame:
    """THE exact-rerank tail shared by every ANN query (brute-force,
    LSH, IVF, and both index-probe serves): per-query rank by
    (cos_sim desc, neighbor_id) — the deterministic tiebreak the
    DuckDB oracles mirror — keep top_k, round to the oracle's 6
    decimals. One copy: a tiebreak/rounding contract change applied
    to four of five inlined copies would silently break oracle
    parity for the fifth."""
    w = Window.partitionBy("query_id").orderBy(
        col("cos_sim").desc(), col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= top_k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------
# LSH-bucketed approximate top-k (the 100 TB path)
# ---------------------------------------------------------------------
@query(
    "ann_topk_lsh",
    oracle=f"""
        WITH corpus_b AS ({_sql_lsh_corpus(_LSH_TABLES, _LSH_BITS)}),
        qb AS (
            SELECT vec_id AS query_id, tbl, bucket
            FROM corpus_b WHERE vec_id < {_N_QUERIES}
        ),
        probes AS (  -- the bucket itself plus every Hamming-1 flip
            SELECT query_id, tbl, bucket FROM qb
            UNION ALL
            SELECT query_id, tbl,
                   substring(bucket, 1, i - 1)
                   || (CASE WHEN substring(bucket, i, 1) = '1'
                       THEN '0' ELSE '1' END)
                   || substring(bucket, i + 1)
            FROM qb, (SELECT unnest(generate_series(1, {_LSH_BITS})) AS i)
        ),
        cand AS (
            SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
            FROM probes p
            JOIN corpus_b c ON c.tbl = p.tbl AND c.bucket = p.bucket
            WHERE c.vec_id <> p.query_id
        ),
        scored AS (
            SELECT c.query_id, c.neighbor_id,
                   {_sql_cosine('q.embedding', 'e.embedding')} AS cos_sim
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.neighbor_id
            JOIN embeddings q ON q.vec_id = c.query_id
        )
        SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
        FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id
                   ) AS rank
            FROM scored
        )
        WHERE rank <= {_TOP_K}
        ORDER BY query_id, rank
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k at the PRODUCTION knobs: 4 independent hash
    tables + Hamming-1 multi-probe (recall 0.96 vs brute force at
    fixture scale, floor-gated in tests/test_similarity.py), SERVED
    from the cached on-disk (tbl, bucket) layout (round 8 — the same
    move round 7 made for IVF): :func:`ensure_lsh_index` builds the
    partitioned corpus once per (corpus fingerprint, knobs), and each
    call is a pure probe that reads only ~(n_bits+1)/2^n_bits of the
    corpus bytes via partition pruning. Results are pinned identical
    to the in-memory :func:`lsh_topk` at the same knobs (which stays
    as the construction demo; see its docstring for knob scaling)."""
    idx = ensure_lsh_index(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    return lsh_probe_index(spark, idx, queries)


def _flip_bit(bucket: Column, i: int, n_bits: int) -> Column:
    """Bucket key with bit i flipped (buckets are '0'/'1' strings)."""
    flipped = F.when(F.substring(bucket, i + 1, 1) == "1", F.lit("0")).otherwise(
        F.lit("1")
    )
    parts = []
    if i > 0:
        parts.append(F.substring(bucket, 1, i))
    parts.append(flipped)
    if i < n_bits - 1:
        parts.append(F.substring(bucket, i + 2, n_bits - i - 1))
    return F.concat(*parts)


def _flip_bits2(bucket: Column, i: int, j: int, n_bits: int) -> Column:
    """Bucket key with bits i < j both flipped."""
    return _flip_bit(_flip_bit(bucket, i, n_bits), j, n_bits)


def _multiprobe_radius(n_bits: int) -> int:
    """Multiprobe Hamming radius for a given bucket width.

    Per-bit flip probability for a cosine-θ pair is θ/π, so the
    expected flip count grows LINEARLY with width — Hamming-1 probing
    that gives recall 0.96 at the 4-bit oracle config decays to 0.42
    by 9 adaptive bits (measured at 100× data; radius 2 restores
    0.80 there and 0.95 at the 6-bit 10× width). Radius 2 keeps the
    envelope while the scanned fraction keeps shrinking: probes/table
    grows ~bits²/2 but buckets grow 2^bits. The static oracle config
    (= the 4-bit floor) keeps radius 1, which is what the DuckDB
    oracle mirrors; every adaptive width beyond it probes radius 2.
    """
    return 2 if n_bits > _LSH_BITS else 1


def srp_banding_recall(
    cos_sim: float,
    n_bits: int,
    n_tables: "int | None" = None,  # None → _EMB_TABLES (the plan's L)
    multiprobe: bool = False,
) -> float:
    """Closed-form SRP banding recall for a pair at ``cos_sim``:
    per-bit agreement p = 1 − θ/π, per-table hit p^b (plus the
    Hamming-1 term b·p^(b−1)(1−p) under multiprobe), OR-ed over
    independent tables: 1 − (1 − hit)^L.

    This is the formula the round-11 compaction experiment validated
    to three decimals against measured planted-pair recall (0.775
    predicted / 0.7772 measured exact-bucket; 0.991 / 0.9908
    multiprobe, at 12 bits × 4 tables, cos 0.958 — SCALE.md). Exposed
    so users can price a width/recall trade before ingesting, and so
    the auto-multiprobe heuristic below is auditable.

    ``n_tables=None`` resolves to the engine's actual table count
    (``_EMB_TABLES``) at call time, so the published recall pricing
    can never silently desync from the plan if the constant changes
    (round-13 ADVICE low)."""
    import math

    if n_tables is None:
        n_tables = _EMB_TABLES
    p = 1.0 - math.acos(max(-1.0, min(1.0, cos_sim))) / math.pi
    hit = p**n_bits
    if multiprobe:
        hit += n_bits * p ** (n_bits - 1) * (1.0 - p)
    return 1.0 - (1.0 - hit) ** n_tables


# Auto-multiprobe heuristic (round 12, VERDICT wrong #3): the
# corpus-adaptive width exists to bound bucket occupancy, but every
# bit it adds cuts banding recall at the 0.9-0.97 near-dup band —
# measured 0.78 at the 12-bit width users get silently on 200k-unique
# corpora. multiprobe=None (the new default) resolves to True exactly
# when the closed-form recall at the regime's design point
# (cos 0.95) drops below 0.85 — i.e. whenever the adaptive width has
# drifted below what the fixed 8-bit default delivers (0.891). Gate
# and bench corpora resolve to the 8-bit floor and therefore stay on
# the exact-bucket arm the DuckDB oracles mirror; explicit True/False
# always wins.
#
# Round 13 (r12 VERDICT wrong #2): the recall-only heuristic charged
# a 6.3× candidate volume at 1000× (308M vs 49.8M pairs, 279.8 vs
# 44.3 s) for ZERO measured recall gain, because that corpus's
# high-similarity mass is exact replicas the banding-independent vkey
# collapse already catches. The refinement: when the corpus's exact-
# collapse rate (1 − n_unique/n_rows, from the same memoized scan as
# the adaptive width) is at or above _AUTO_MULTIPROBE_COLLAPSE_SKIP,
# the auto arm stays exact-bucket — banding recall then prices only
# the residual DISTINCT-vector near-dups, a minority of the dedup
# signal by construction. The rate is a proxy, not a guarantee (a
# replica-heavy corpus CAN still hide distinct near-dups), so
# explicit multiprobe=True always forces probing and
# srp_banding_recall stays the audit surface. Validated on the sf100
# corpus (collapse ≈ 0.9): auto now selects the exact-bucket arm,
# recall still 1.0 on both operating bands (emb_recall.json).
_AUTO_MULTIPROBE_DESIGN_COS = 0.95
_AUTO_MULTIPROBE_RECALL_FLOOR = 0.85
_AUTO_MULTIPROBE_COLLAPSE_SKIP = 0.5
# approx_count_distinct's default relative standard deviation — used
# to size the escalate-to-exact band around the collapse threshold
# (r13 ADVICE: an HLL estimate NEAR the hard 0.5 compare could land a
# boundary corpus on either side across restarts / re-estimates;
# inside the 3-sigma band we pay one exact distinct count instead)
_EMB_HLL_RSD = 0.05


def _resolve_multiprobe(
    multiprobe: "bool | None",
    n_bits: int,
    n_tables: int,
    collapse_rate=None,
) -> bool:
    """``collapse_rate`` may be a float, ``None``, or a ZERO-ARG
    CALLABLE evaluated only when the recall term alone would fire
    probing — so the pay-the-stats-scan-only-when-needed decision
    lives HERE, next to the floor condition it depends on, instead of
    callers re-stating the floor inline (a one-sided edit to either
    copy would compute the collapse rate when unused or skip it when
    needed — the auto arm would then probe on a replica-dominated
    corpus, the 6.3×-candidate regression round 13 closed)."""
    if multiprobe is not None:
        return multiprobe
    if (
        srp_banding_recall(_AUTO_MULTIPROBE_DESIGN_COS, n_bits, n_tables)
        >= _AUTO_MULTIPROBE_RECALL_FLOOR
    ):
        return False
    if callable(collapse_rate):
        collapse_rate = collapse_rate()
    return (
        collapse_rate is None
        or collapse_rate < _AUTO_MULTIPROBE_COLLAPSE_SKIP
    )


def _probe_buckets(bucket: Column, n_bits: int) -> Column:
    """Array of multiprobe bucket keys: the bucket itself, all
    Hamming-1 flips, and — at adaptive widths (see
    :func:`_multiprobe_radius`) — all Hamming-2 flips."""
    probes = [bucket, *[_flip_bit(bucket, i, n_bits) for i in range(n_bits)]]
    if _multiprobe_radius(n_bits) >= 2:
        probes += [
            _flip_bits2(bucket, i, j, n_bits)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    return F.array(*probes)


def lsh_topk(
    emb: DataFrame,
    n_queries: int = _N_QUERIES,
    top_k: int = _TOP_K,
    n_bits: int = _LSH_BITS,
    multiprobe: bool = False,
    n_tables: int = 1,
) -> DataFrame:
    """SRP-LSH top-k with tunable bucket width, multi-probe, and
    multiple hash tables.

    The (table, bucket) key becomes the equi-join key, so each query
    scores ~n_tables · |corpus| / 2^n_bits candidates instead of the
    full corpus — the shape that survives a 1000-executor scan.
    ``multiprobe=True`` additionally probes every Hamming-distance-1
    bucket per table (flip one bit → n_bits extra probes);
    ``n_tables>1`` unions candidates from independent hyperplane
    families (candidate PAIRS are deduplicated before scoring, so a
    vector found by several tables is scored once).

    Scaling rules (recall@10 vs ann_topk_bruteforce at fixture scale,
    gated in tests/test_similarity.py; this corpus's true neighbors
    are weakly similar — per-bit agreement ≈ 0.6 — the hard regime):

    ===========  =================================================
    knob         rule / fixture measurement
    ===========  =================================================
    n_bits       log2(n_tables · |corpus| / candidate_budget);
                 fixture 4 bits over 500 vecs → ~31/bucket.
                 10⁹ vecs, 10⁴-candidate budget, 8 tables: ~20.
    multiprobe   ≈ +0.3-0.4 recall at (n_bits+1)× candidates
                 (fixture: 0.10 → 0.50 at 4 bits)
    n_tables     the recall lever that compounds: hit prob
                 1-(1-p^k)^L; fixture 4 tables + multiprobe ≈
                 0.9. Prefer more tables over fewer bits once
                 multiprobe is on (same cost, independent trials)
    ===========  =================================================
    """
    # the 64-float embedding is NOT carried through the table explode —
    # the rerank re-joins it by id, so the banded relation stays
    # (id, tbl, bucket)-narrow. (A single fused aggregate computing all
    # L·n_bits dots in one array-accumulator pass was tried and is ~5×
    # SLOWER than these per-bit folds: deeply nested higher-order
    # functions fall out of whole-stage codegen, while the per-bit
    # zip_with/aggregate pairs stay in it.)
    tables = [
        (j, sign_bucket("embedding", n_bits, seed=_emb_seed(j)))
        for j in range(n_tables)
    ]
    emb_b = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("tbl"), b.alias("bucket"))
                    for j, b in tables
                ]
            )
        ).alias("tb"),
    ).select("vec_id", col("tb.tbl").alias("tbl"), col("tb.bucket").alias("bucket"))
    q = emb_b.filter(col("vec_id") < n_queries).select(
        col("vec_id").alias("query_id"),
        col("tbl").alias("q_tbl"),
        col("bucket").alias("q_bucket"),
    )
    if multiprobe:
        q = q.withColumn(
            "q_bucket", F.explode(_probe_buckets(col("q_bucket"), n_bits))
        )
    # candidate pairs, deduped across tables/probes BEFORE scoring so
    # each surviving pair pays the cosine exactly once
    cand = (
        emb_b.join(
            broadcast(q),
            (col("tbl") == col("q_tbl"))
            & (col("bucket") == col("q_bucket"))
            & (col("vec_id") != col("query_id")),
        )
        .select("query_id", col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # norms are per-VECTOR quantities — compute them in the (small)
    # side projections so a vector reached by several queries/tables
    # pays its norm fold once, and the per-candidate work is one dot
    q_emb = emb.filter(col("vec_id") < n_queries).select(
        col("vec_id").alias("query_id"),
        col("embedding").alias("q_emb"),
        l2_norm(col("embedding")).alias("q_norm"),
    )
    n_emb = emb.select(
        col("vec_id").alias("neighbor_id"),
        col("embedding").alias("n_emb"),
        l2_norm(col("embedding")).alias("n_norm"),
    )
    scored = (
        cand.join(n_emb, "neighbor_id")
        .join(broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot(col("q_emb"), col("n_emb")),
                col("q_norm") * col("n_norm"),
            ).alias("cos_sim"),
        )
    )
    return _rerank_topk(scored, top_k)


# ---------------------------------------------------------------------
# embedding-cosine near-dup pairs (collapsed + multi-table + capped)
# ---------------------------------------------------------------------
# Candidate-generation knobs for the embedding dedup family — the same
# skew-guard stack as the MinHash text dedup (plans/text.py):
#   1. identical embeddings collapse to ONE representative before any
#      bucketing (a million-copy vector is one banded row; its member
#      pairs fan back out only at the very end, output-sized);
#   2. 4 independent SRP tables × 8 bits give 256 buckets per table
#      (the old single 4-bit table had 16 — a constant 16× off
#      all-pairs, not a scale shape), with recall recovered by table
#      union (at cos ≥ 0.9, per-pair candidate prob ≈ 0.74 vs 0.54);
#   3. a per-(table, bucket) cap drops boilerplate-hot buckets from
#      candidate generation, bounding per-bucket work at CAP²/2.
# Fixture embeddings are all-distinct, so the collapse is a no-op at
# test scale (adversarial pytest covers it); the cap IS live at sf0.1.
_EMB_TABLES = 4
_EMB_BITS = 8
_EMB_BUCKET_CAP = 64


def auto_emb_bits(n_unique: int) -> int:
    """Corpus-adaptive SRP width for the embedding dedup family.

    A FIXED bit width cannot scale: 8 bits is 256 buckets per table,
    so at 2M unique vectors the mean (table, bucket) occupancy is
    ~7.8k ≫ the 64-row cap and the cap silently drops essentially
    every bucket — wall-time stays flat while recall collapses to the
    exact-duplicate arm. Size the hyperplane count so the EXPECTED
    occupancy is ~cap/2 (n_bits = log2(n_unique / (cap/2))), floored
    at the fixed default: small corpora — including the sf0.01/sf0.001
    oracle-gate datasets, whose unique counts stay below the
    2^8·cap/2 = 8192 threshold — resolve to exactly the static 8-bit
    plan, which is why the DuckDB oracle can keep its fixed-width
    banding expressions.
    """
    import math

    target = max(1, _EMB_BUCKET_CAP // 2)
    if n_unique <= target:
        return _EMB_BITS
    return max(_EMB_BITS, math.ceil(math.log2(n_unique / target)))


def _emb_corpus_stats(emb: DataFrame) -> tuple[int, int]:
    """``(n_rows, n_unique)`` of the embedding corpus in ONE scan
    (count + approx_count_distinct over the RAW embedding column — no
    join, no serialization; measured 7.6× cheaper than hashing a JSON
    form first, and HLL's ~±10% error is irrelevant to both consumers:
    a log2 for the width, a coarse ratio for the collapse rate).

    Memoized per (input fileset FINGERPRINT, normalized-plan digest)
    — :func:`_emb_stats_key`: size+mtime so a fixture regenerated in
    place under the same names re-resolves, the plan digest so a
    filtered subset over the same files cannot poison the full
    corpus's entry (or vice versa). A query re-executed over the same
    relation (bench min-of-N, repeated serving calls) must not pay
    the count scan again — and an engine restart re-resolves, which
    is correct (the corpus may have changed)."""
    key = _emb_stats_key(emb)
    if key and key in _EMB_STATS_MEMO:
        return _EMB_STATS_MEMO[key]
    row = emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(col("embedding")).alias("n_unique"),
    ).first()
    stats = (int(row["n_rows"]), int(row["n_unique"]))
    if key:
        _EMB_STATS_MEMO[key] = stats
    return stats


def resolve_emb_bits(emb: DataFrame, n_bits: "int | None") -> int:
    """``n_bits=None`` → :func:`auto_emb_bits` over the corpus's
    approximate unique-vector count (:func:`_emb_corpus_stats` — one
    memoized scan). Explicit widths pass through untouched — the
    incremental pair-graph store MUST pass one, since its banding is
    pinned for the store's lifetime."""
    if n_bits is not None:
        return n_bits
    return auto_emb_bits(_emb_corpus_stats(emb)[1])


def emb_collapse_rate(emb: DataFrame) -> float:
    """Fraction of corpus rows that are exact copies of another row
    (``1 − n_unique/n_rows``, from the same memoized single-scan
    stats as the adaptive width). This is the banding-INDEPENDENT
    dedup mass: every exact replica is caught by the vkey collapse
    before any bucketing, so on replica-dominated corpora the
    high-similarity band is mostly collapse-arm signal and widening
    the probe envelope buys little (see :func:`_resolve_multiprobe`).

    Boundary determinism (r13 ADVICE): the rate feeds a HARD compare
    against ``_AUTO_MULTIPROBE_COLLAPSE_SKIP``, and HLL's ~±5% rsd
    could flip a corpus sitting near the threshold between otherwise
    identical runs (the memo is process-local, so a restart
    re-estimates). When the approximate rate lands within the
    3-sigma HLL error band of the threshold, escalate ONCE to an
    exact ``distinct().count()`` over the embedding column (memoized
    under the same fileset fingerprint) — far from the boundary the
    cheap estimate still decides, at it the decision is exact and
    therefore stable for a given corpus.
    """
    n_rows, n_unique = _emb_corpus_stats(emb)
    if n_rows <= 0:
        return 0.0
    rate = max(0.0, 1.0 - n_unique / n_rows)
    band = 3.0 * _EMB_HLL_RSD * (n_unique / n_rows)
    if abs(rate - _AUTO_MULTIPROBE_COLLAPSE_SKIP) <= band:
        n_unique = _emb_exact_unique(emb)
        rate = max(0.0, 1.0 - n_unique / n_rows)
    return rate


_EMB_STATS_MEMO: dict = {}
_EMB_EXACT_UNIQUE_MEMO: dict = {}


def _emb_exact_unique(emb: DataFrame) -> int:
    """Exact unique-vector count — the boundary-escalation arm of
    :func:`emb_collapse_rate`. ``distinct().count()`` over the raw
    embedding column is a partial-aggregated single scan (map-side
    combine on the array key); memoized under the same fileset
    fingerprint as the approximate stats so repeated serving calls
    never pay it twice."""
    key = _emb_stats_key(emb)
    if key and key in _EMB_EXACT_UNIQUE_MEMO:
        return _EMB_EXACT_UNIQUE_MEMO[key]
    n = emb.select("embedding").distinct().count()
    if key:
        _EMB_EXACT_UNIQUE_MEMO[key] = n
    return n


def _files_stat_key(paths) -> tuple:
    """Memo key for a fileset: (path, size, mtime_ns) per file, so a
    file regenerated in place invalidates the entry (the same
    staleness rule as the on-disk index ``_SOURCE.json`` fingerprint).
    Non-local schemes fall back to path-only entries."""
    out = []
    for p in sorted(paths):
        local = p[5:] if p.startswith("file:") else p
        try:
            st = os.stat(local)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((p, -1, -1))
    return tuple(out)


def _emb_stats_key(emb: DataFrame) -> tuple:
    """Memo key for corpus stats: the input fileset FINGERPRINT plus a
    digest of the relation's NORMALIZED logical plan. Files alone are
    not enough — a filtered/derived DataFrame over the same parquet
    files returns the same ``inputFiles()``, so a subset smoke run
    (``load_table(...).filter(...)``) would poison the memo and a
    later full-corpus call would reuse the subset's (n_rows,
    n_unique): auto_emb_bits then resolves a far-too-narrow width and
    the bucket cap silently drops recall to the exact-duplicate arm —
    the exact failure the adaptive width exists to prevent. The plan
    string is normalized by stripping Catalyst's per-session
    expression ids (``#123``) so two independent ``load_table`` calls
    over the same files still share the entry (the memo's purpose);
    anything that changes the RELATION (a Filter/Project node)
    changes the digest. Empty when the plan is unavailable AND the
    fileset is empty — then nothing is memoized, the safe fallback."""
    import hashlib
    import re

    files = _files_stat_key(emb.inputFiles())
    try:
        plan = emb._jdf.queryExecution().logical().toString()
        digest = hashlib.md5(
            re.sub(r"#\d+", "", plan).encode()
        ).hexdigest()
    except Exception:
        # no plan digest -> only safe to memoize nothing (a files-only
        # key is exactly the poisoning hazard this function closes)
        return ()
    return (files, digest) if files else ()


def _emb_seed(t: int) -> str:
    """Hyperplane-family seed for table ``t`` (shared with lsh_topk)."""
    return "srp" if t == 0 else f"srp{t}"


def _emb_vkey() -> Column:
    """THE collapse key for identical embeddings — one definition,
    shared by the batch pipeline and the incremental store so their
    vector-group identities can never drift apart. Spark-internal
    only (oracles group by the embedding value directly)."""
    return F.md5(F.to_json(F.struct(col("embedding").alias("e"))))


def _emb_tables_expr(n_tables: int, n_bits: int) -> Column:
    """THE per-table SRP banding array — (tbl, bucket) structs over
    the ``embedding`` column, one per hash table; shared by the batch
    pipeline and the incremental store (seed scheme drift between the
    two would silently break their pinned parity)."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                sign_bucket("embedding", n_bits, seed=_emb_seed(t)).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )


def _emb_near_dup_oracle(
    n_tables: int = _EMB_TABLES,
    n_bits: int = _EMB_BITS,
    bucket_cap: int = _EMB_BUCKET_CAP,
) -> str:
    banded = " UNION ALL ".join(
        f"SELECT rep, {t} AS tbl, "
        f"{_sql_bucket('g.embedding', n_bits, _emb_seed(t))} AS bucket FROM grp g"
        for t in range(n_tables)
    )
    cs = _sql_cosine("ea.embedding", "eb.embedding")
    return f"""
        WITH grp AS (
            SELECT embedding, min(vec_id) AS rep, count(*) AS grp_n
            FROM embeddings GROUP BY embedding
        ), mem AS (
            SELECT e.vec_id, g.rep
            FROM embeddings e JOIN grp g ON e.embedding = g.embedding
        ), banded AS (
            {banded}
        ), capped AS (
            SELECT rep, tbl, bucket FROM banded
            QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= {bucket_cap}
        ), cand AS (
            SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
            FROM capped a JOIN capped b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.rep < b.rep
            UNION ALL
            SELECT rep, rep FROM grp WHERE grp_n > 1
        ), verified AS (
            SELECT c.rep_a, c.rep_b, {cs} AS cs
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.rep_a
            JOIN embeddings eb ON eb.vec_id = c.rep_b
            WHERE {cs} >= {_NEAR_DUP_COS}
        )
        SELECT least(ma.vec_id, mb.vec_id)    AS vec_a,
               greatest(ma.vec_id, mb.vec_id) AS vec_b,
               round(v.cs, 6)                 AS cos_sim
        FROM verified v
        JOIN mem ma ON ma.rep = v.rep_a
        JOIN mem mb ON mb.rep = v.rep_b
        WHERE v.rep_a <> v.rep_b OR ma.vec_id < mb.vec_id
        ORDER BY vec_a, vec_b
    """


@query("embedding_near_dup_pairs", oracle=_emb_near_dup_oracle())
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: exact-embedding collapse →
    multi-table SRP LSH with a per-bucket cap → exact-cosine verify →
    fan out to member pairs.

    The 100 TB shape, with the same skew guards as the MinHash text
    dedup (plans/text.py::near_dup_pairs) — identical embeddings (the
    actual dedup target) are collapsed to one representative before
    bucketing, so they can never form a hot bucket; among distinct
    vectors the per-(table, bucket) cap bounds the self-join at
    CAP²/2 candidates per bucket. The only join keys are the vector
    hash and the (table, bucket) pair; work is O(candidates) in unique
    vectors, never O(n²) in rows.

    SRP width is corpus-adaptive (:func:`auto_emb_bits`): the bucket
    space grows with unique count so the cap prunes boilerplate, not
    the whole corpus. The oracle's fixed 8-bit banding stays exact at
    the driver-gate scales because auto width floors at 8 below 8192
    uniques.
    """
    return emb_near_dup_pairs(load_table(spark, "embeddings", sf_dir)).orderBy(
        "vec_a", "vec_b"
    )


def emb_near_dup_candidates(
    emb: DataFrame,
    n_tables: int = _EMB_TABLES,
    n_bits: "int | None" = None,
    bucket_cap: int = _EMB_BUCKET_CAP,
    multiprobe: "bool | None" = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Candidate-generation stage of :func:`emb_near_dup_pairs`,
    exposed so the skew guards are testable in isolation.

    Returns ``(keyed, reps, cand)``: the vec→vector-group mapping
    (vec_id, vkey), the per-unique-vector relation (vkey, rep, grp_n,
    embedding), and the candidate REP pairs (rep_a, rep_b) after the
    exact collapse and the bucket cap — ``|cand|`` is the quantity the
    guards bound.

    The collapse key is md5(to_json(embedding)) — Spark-internal only
    (the oracle groups by the embedding list directly; only the
    grouping semantics must match, not the key bytes). The collapse is
    an AGGREGATE (min/min_by/count, all map-side combinable), not a
    window: a million-copy vector ships one partial row per map task.

    ``multiprobe=True`` (round 11) additionally probes every
    Hamming-1 neighbor bucket on one join side, the same trade as the
    ANN serving path's :func:`_probe_buckets`: per-table hit
    probability for a true pair rises from p^b to
    p^b + b·p^(b-1)(1-p), e.g. at the adaptive 12-bit width and
    cos 0.95 the 4-table banding recall goes 0.78 → ~0.99, for a
    (n_bits+1)× larger probe side of the candidate join (verification
    stays exact, so precision is unchanged).

    ``multiprobe=None`` (round 12 default) resolves via
    :func:`_resolve_multiprobe`: ON exactly when the corpus-adaptive
    width pushes the closed-form banding recall at cos 0.95 below
    0.85 — the silent-0.78-recall regime the round-11 verdict flagged
    — and OFF at the fixed 8-bit floor every gate/bench corpus
    resolves to (recall 0.891), which keeps the registered queries on
    the exact-bucket plan their DuckDB oracles mirror. Round 13 adds
    the corpus-aware skip: even at adaptive widths, a corpus whose
    exact-collapse rate (:func:`emb_collapse_rate`, same memoized
    scan as the width resolve) is ≥ 0.5 stays exact-bucket — its
    high-similarity mass is replicas the vkey collapse catches
    banding-independently, and probing was measured to charge 6.3×
    candidate volume for zero recall gain there (emb_recall.json
    sf100). Pass an explicit bool to pin either arm
    (latency-sensitive ingest should pin False; replica-heavy corpora
    hiding distinct near-dups should pin True; see
    :func:`srp_banding_recall` to price the trade)."""
    spark = emb.sparkSession
    n_bits = resolve_emb_bits(emb, n_bits)
    # the collapse-rate probe is paid ONLY when the resolver's recall
    # term alone would fire probing (the lazy-callable contract of
    # _resolve_multiprobe — the floor condition lives there, not
    # re-stated here): gate and bench corpora resolve at the 8-bit
    # floor and never evaluate it, and the stats scan is the same
    # memoized single pass the adaptive width already runs
    multiprobe = _resolve_multiprobe(
        multiprobe, n_bits, n_tables, lambda: emb_collapse_rate(emb)
    )
    vkey = _emb_vkey()
    # narrow (vec_id, vkey) relation for the final fan-out — consumed
    # by both fan-out sides, materialized so the vectors are not
    # re-hashed per consumer
    keyed = emb.select("vec_id", vkey.alias("vkey")).transform(materialize)
    # explicit respread after the collapse: AQE coalesces the small
    # post-agg shuffle, which would serialize the 32-hyperplane bucket
    # projection below (the documented trap from plans/text.py)
    n_spread = spark.sparkContext.defaultParallelism * 2
    reps = (
        emb.select("vec_id", "embedding", vkey.alias("vkey"))
        .groupBy("vkey")
        .agg(
            F.min("vec_id").alias("rep"),
            F.count(F.lit(1)).alias("grp_n"),
            F.min_by("embedding", "vec_id").alias("embedding"),
        )
        .repartition(n_spread, col("rep"))
        .transform(materialize)
    )
    # one (rep, tbl, bucket) row per table — the 64-float embedding is
    # consumed by the bucket expressions but NOT carried through the
    # explode (the lsh_topk plan-size lesson)
    banded = reps.select(
        "rep", F.explode(_emb_tables_expr(n_tables, n_bits)).alias("tb")
    ).select(
        "rep", col("tb.tbl").alias("tbl"), col("tb.bucket").alias("bucket")
    )
    # hot-bucket cap over the (table, bucket) key — shared guard with
    # the text band cap (window-vs-agg trade documented there)
    from pulsar_spark_spark.plans.text import cap_hot_buckets

    capped = cap_hot_buckets(banded, ["tbl", "bucket"], bucket_cap)
    if multiprobe:
        # expand ONE side to the bucket + its Hamming-1 flips; the
        # other side stays exact, so a pair at Hamming distance 1 is
        # still found (either endpoint probes the other's bucket) and
        # the join volume grows (n_bits+1)×, not (n_bits+1)²×
        probe_side = capped.select(
            "rep",
            "tbl",
            F.explode(
                F.array(
                    col("bucket"),
                    *[
                        _flip_bit(col("bucket"), i, n_bits)
                        for i in range(n_bits)
                    ],
                )
            ).alias("bucket"),
        )
        a = probe_side.alias("a")
    else:
        a = capped.alias("a")
    b = capped.alias("b")
    cross = (
        a.join(
            b,
            (col("a.tbl") == col("b.tbl"))
            & (col("a.bucket") == col("b.bucket"))
            & (col("a.rep") < col("b.rep")),
        )
        .select(col("a.rep").alias("rep_a"), col("b.rep").alias("rep_b"))
        .distinct()
    )
    # multi-member groups verify once against themselves (rep, rep) —
    # the fan-out turns that row into all within-group pairs
    self_cand = reps.filter(col("grp_n") > 1).select(
        col("rep").alias("rep_a"), col("rep").alias("rep_b")
    )
    return keyed, reps, cross.unionByName(self_cand)


def emb_verified_rep_pairs(
    emb: DataFrame,
    n_tables: int = _EMB_TABLES,
    n_bits: "int | None" = None,
    bucket_cap: int = _EMB_BUCKET_CAP,
    multiprobe: "bool | None" = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Candidate generation + exact-cosine verify at REPRESENTATIVE
    level: returns ``(keyed, reps, verified)`` where verified is (vkey_a,
    vkey_b, rep_a, rep_b, cos_sim) — cross-group pairs plus one
    (rep, rep) row per multi-member group. This tiny relation is the
    whole dedup signal; both the pair fan-out and the cluster builder
    start from it, so nothing downstream is ever quadratic in group
    size. The (rep, rep) self-pair goes through the same cosine
    expression as cross pairs (cos(v, v) is computed, not assumed
    1.0), keeping the oracle bit-identical."""
    keyed, reps, cand = emb_near_dup_candidates(
        emb, n_tables, n_bits, bucket_cap, multiprobe=multiprobe
    )
    ea = reps.select(
        col("rep").alias("rep_a"),
        col("embedding").alias("emb_a"),
        col("vkey").alias("vkey_a"),
    )
    eb = reps.select(
        col("rep").alias("rep_b"),
        col("embedding").alias("emb_b"),
        col("vkey").alias("vkey_b"),
    )
    verified = (
        cand.join(ea, "rep_a")
        .join(eb, "rep_b")
        .withColumn("cos_sim", cosine(col("emb_a"), col("emb_b")))
        .filter(col("cos_sim") >= _NEAR_DUP_COS)
        .select("vkey_a", "vkey_b", "rep_a", "rep_b", "cos_sim")
        .transform(materialize)
    )
    return keyed, reps, verified


def emb_near_dup_pairs(
    emb: DataFrame,
    n_tables: int = _EMB_TABLES,
    n_bits: "int | None" = None,
    bucket_cap: int = _EMB_BUCKET_CAP,
    multiprobe: "bool | None" = None,
) -> DataFrame:
    """Member-level near-dup pairs (vec_a, vec_b, cos_sim): the
    verified rep pairs fanned back out to group members. The verified
    relation is candidate-sized (tiny vs the corpus) — broadcast it so
    the fan-out never shuffles the membership relation, behind a
    row-count guard (:func:`broadcast_if_bounded`): on a
    near-dup-dense corpus the verified relation is data-dependent and
    unbounded, and past ~5M rows the shuffle join is the right plan.
    ``multiprobe``: see :func:`emb_near_dup_candidates` (None = auto:
    exact-bucket at the 8-bit floor widths every gate/bench corpus
    resolves to, Hamming-1 probing once the adaptive width drops the
    closed-form near-dup recall below 0.85)."""
    keyed, _, verified = emb_verified_rep_pairs(
        emb, n_tables, n_bits, bucket_cap, multiprobe=multiprobe
    )
    ma = keyed.select(col("vkey").alias("vkey_a"), col("vec_id").alias("m_a"))
    mb = keyed.select(col("vkey").alias("vkey_b"), col("vec_id").alias("m_b"))
    return (
        ma.join(broadcast_if_bounded(verified), "vkey_a")
        .join(mb, "vkey_b")
        .filter((col("rep_a") != col("rep_b")) | (col("m_a") < col("m_b")))
        .select(
            F.least("m_a", "m_b").alias("vec_a"),
            F.greatest("m_a", "m_b").alias("vec_b"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


@query(
    "embedding_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE pairs AS (
            {_emb_near_dup_oracle().replace("ORDER BY vec_a, vec_b", "")}
        ), sym AS (
            SELECT vec_a AS src, vec_b AS dst FROM pairs
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst FROM pairs
        ), closure AS (
            SELECT src AS node, src AS reach FROM sym
            UNION
            SELECT c.node, s.dst AS reach
            FROM closure c JOIN sym s ON c.reach = s.src
        ), labels AS (
            SELECT node, min(reach) AS component
            FROM closure GROUP BY node
        )
        SELECT component                                    AS cluster_id,
               count(*)                                     AS n_vecs,
               string_agg(node::VARCHAR, ',' ORDER BY node) AS vec_ids
        FROM labels
        GROUP BY component
        ORDER BY cluster_id
    """,
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup CLUSTERS: connected components over
    the near-dup graph — the consumer shape an embedding-dedup
    pipeline actually keys on (keep one vector per cluster).

    Round-8 scale shape: like the text family, the component walk runs
    at REPRESENTATIVE level (:func:`emb_components`) — one node per
    unique embedding, cross edges only — and group members attach to
    their rep's component at the very end, so a million-copy vector is
    ONE node in the iterative graph. Hash-checked against a DuckDB
    recursive-CTE transitive closure over the full member-pair graph;
    both converge to component = min(vec_id), which the rep-level walk
    preserves because every rep is already the min id of its group."""
    comp = emb_components(load_table(spark, "embeddings", sf_dir))
    ids_str = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("node")), lambda x: x.cast("string")
        ),
        ",",
    )
    return (
        comp.groupBy(col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_vecs"), ids_str.alias("vec_ids"))
        .orderBy("cluster_id")
    )


def emb_components(
    emb: DataFrame,
    n_tables: int = _EMB_TABLES,
    n_bits: "int | None" = None,
    bucket_cap: int = _EMB_BUCKET_CAP,
    cc: str = "auto",
    multiprobe: "bool | None" = None,
) -> DataFrame:
    """(node=vec_id, component=min vec_id in its near-dup cluster) for
    every CLUSTERED vector — the rep-level decomposition underlying
    :func:`embedding_dedup_clusters`, twin of plans/text.py's
    ``doc_components``: cross-group verified pairs are the edges; a
    verified (rep, rep) self-pair marks a multi-member group as a
    cluster even with no cross edges; members then join in via their
    vector key. ``cc``: ``"auto"`` (default — min-label fast path,
    star fallback past the iteration budget; rolled-replica corpora
    DO produce chains deep enough to need it, measured at 10× scale
    round 8) or ``"min_label"`` / ``"star"`` to force one — same
    dispatch as ``doc_components``."""
    from pulsar_spark_spark.plans.text import component_walk

    keyed, reps, verified = emb_verified_rep_pairs(
        emb, n_tables, n_bits, bucket_cap, multiprobe=multiprobe
    )
    cross = verified.filter(col("rep_a") != col("rep_b"))
    comp_rep = component_walk(cross, "rep_a", "rep_b", cc)
    self_only = (
        verified.filter(col("rep_a") == col("rep_b"))
        .select(col("rep_a").alias("node"))
        .join(comp_rep.select("node"), "node", "left_anti")
        .withColumn("component", col("node"))
    )
    rep_comp = comp_rep.unionByName(self_only)
    rep_vkey = reps.select(col("rep").alias("node"), "vkey")
    return (
        rep_comp.join(rep_vkey, "node")
        .join(keyed, "vkey")
        .select(col("vec_id").alias("node"), "component")
    )


# ---------------------------------------------------------------------
# IVF-style coarse quantization + probe (the other 100 TB ANN path)
# ---------------------------------------------------------------------
_N_CENTROIDS = 16
_N_PROBE = 2

_SQL_ASSIGN = f"""
        cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                  FROM embeddings WHERE vec_id < {_N_CENTROIDS}),
        assign AS (
            SELECT vec_id, embedding, cent_id AS cell
            FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_sql_cosine('e.embedding', 'c.cent_emb')} DESC,
                                    c.cent_id
                       ) AS crn
                FROM embeddings e CROSS JOIN cents c
            ) WHERE crn = 1
        ),
        probes AS (
            SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cent_id AS cell
            FROM (SELECT * FROM embeddings WHERE vec_id < {_N_QUERIES}) q
            CROSS JOIN cents c
            QUALIFY row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_sql_cosine('q.embedding', 'c.cent_emb')} DESC, c.cent_id
            ) <= {_N_PROBE}
        )
"""


@query(
    "ann_topk_ivf",
    oracle=f"""
        WITH {_SQL_ASSIGN}
        SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
        FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_sql_cosine('p.q_emb', 'a.embedding')} AS cos_sim,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_sql_cosine('p.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rank
            FROM probes p JOIN assign a ON a.cell = p.cell
            WHERE a.vec_id <> p.query_id
        )
        WHERE rank <= {_TOP_K}
        ORDER BY query_id, rank
    """,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, served from the ON-DISK index layout.

    This is the production shape: :func:`ensure_ivf_index` builds the
    partition-per-cell corpus layout ONCE per (corpus, n_centroids) —
    cached on disk and fingerprint-checked against the source parquet,
    like any database index — and every call after that is a pure
    probe (:func:`ivf_probe_index`): broadcast centroid lookup →
    partition-pruned scan of the n_probe cells → exact rerank.
    Results are identical to the in-memory :func:`ivf_topk` at the
    same knobs (that function remains the oracle-exact construction
    demo; the DuckDB oracle replays the same assignment + probe).
    """
    idx = ensure_ivf_index(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    return ivf_probe_index(spark, idx, queries)


def _source_fingerprint(sf_dir: str, table: str = "embeddings") -> dict:
    """(size, mtime_ns) of every file under the ``table`` source —
    the staleness key for the cached index. An index is only as fresh
    as the files it was BUILT from, so callers must name their actual
    input table: round 12's geotag/refinement layouts are built from
    events.parquet, and fingerprinting the default embeddings source
    there meant a regenerated events fixture (or a partial fixture dir
    with no embeddings at all — an empty, never-changing fingerprint)
    silently served the merge from stale state (round-13 ADVICE
    high)."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    out = {}
    if os.path.isfile(src):
        st = os.stat(src)
        out[os.path.basename(src)] = [st.st_size, st.st_mtime_ns]
    else:
        for base, _, files in os.walk(src):
            for f in files:
                st = os.stat(os.path.join(base, f))
                rel = os.path.relpath(os.path.join(base, f), src)
                out[rel] = [st.st_size, st.st_mtime_ns]
    return out


_CORPUS_ROWS_MEMO: dict = {}


def _corpus_rows(sf_dir: str) -> int:
    """Row count of the embeddings corpus for adaptive-knob sizing,
    memoized per source fingerprint (size + mtime — a regenerated
    fixture re-resolves). Reads parquet FOOTERS, not data: the count
    an index resolver needs is exactly the sum of the files'
    ``num_rows`` metadata, so resolving the knob costs no Spark job at
    all — round 8 paid a full ``df.count()`` per ``ann_topk_ivf`` /
    ``ann_topk_lsh`` call here (measured 0.5-0.8 s each in the bench),
    which the index fingerprint cache never saw because the resolve
    ran BEFORE the cache lookup."""
    fp = _source_fingerprint(sf_dir)
    key = (os.path.abspath(sf_dir), tuple(sorted((k, v[0], v[1]) for k, v in fp.items())))
    if key in _CORPUS_ROWS_MEMO:
        return _CORPUS_ROWS_MEMO[key]
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "embeddings.parquet")
    files = (
        [src]
        if os.path.isfile(src)
        else [
            os.path.join(base, f)
            for base, _, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
        ]
    )
    n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    _CORPUS_ROWS_MEMO[key] = n
    return n


def _ensure_index(
    name: str,
    sf_dir: str,
    params: dict,
    build,
    index_root: str | None = None,
    source_table: str = "embeddings",
) -> str:
    """Build-once fingerprint cache shared by every on-disk index.

    ``source_table`` names the parquet table the build READS — it is
    the staleness key (per-file size + mtime), so an index built from
    events must pass ``source_table="events"`` or a regenerated
    events fixture keeps serving the old index.

    The index lives under ``$SPARK_GRAFT_INDEX_ROOT`` (default
    ``<repo>/.index_cache``), keyed by corpus path + ``name`` +
    ``params``, with a ``_SOURCE.json`` fingerprint (per-file size +
    mtime + params) so a changed corpus rebuilds and an unchanged one
    never does — the standard index contract: build is amortized
    across every later query. The build is staged into a
    uuid-suffixed tmp sibling and swapped in whole, so a crashed
    build never half-populates the cache and CONCURRENT builders
    (parallel test workers, bench + pytest) never share a staging
    dir: whoever renames last wins, and a failed swap just means
    another builder already installed an equivalent index (the
    fingerprint is re-checked before giving up).
    """
    import hashlib
    import json
    import shutil
    import uuid

    root = (
        index_root
        or os.environ.get("SPARK_GRAFT_INDEX_ROOT")
        or os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            ".index_cache",
        )
    )
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    index_dir = os.path.join(root, f"{name}_{key}")
    meta_path = os.path.join(index_dir, "_SOURCE.json")
    want = {
        "files": _source_fingerprint(sf_dir, source_table),
        "source_table": source_table,
        **params,
    }
    if os.path.exists(meta_path):
        try:
            with open(meta_path) as fh:
                if json.load(fh) == want:
                    return index_dir
        except (OSError, ValueError):
            pass  # unreadable meta → rebuild
    tmp = f"{index_dir}.tmp.{uuid.uuid4().hex}"
    os.makedirs(tmp, exist_ok=True)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_SOURCE.json"), "w") as fh:
            json.dump(want, fh)
        # re-check the installed fingerprint immediately before the
        # destructive swap: a concurrent builder may have installed an
        # EQUIVALENT index while we were building — deleting it out
        # from under a probe lazily scanning it would surface
        # transient read failures, and re-installing ours buys
        # nothing. Only a genuinely stale index gets removed.
        try:
            with open(meta_path) as fh:
                if json.load(fh) == want:
                    return index_dir
        except (OSError, ValueError):
            pass  # absent/unreadable → proceed with the swap
        shutil.rmtree(index_dir, ignore_errors=True)
        try:
            os.rename(tmp, index_dir)
        except OSError:
            # another builder won the swap between our rmtree and
            # rename; accept their index iff it matches the wanted
            # fingerprint, else surface the original rename failure
            # (the confirmation read itself can race a third builder,
            # so its own errors must not mask the OSError)
            try:
                with open(meta_path) as fh:
                    theirs = json.load(fh)
            except (OSError, ValueError):
                theirs = None
            if theirs != want:
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return index_dir


def auto_ivf_centroids(n_rows: int) -> int:
    """sqrt-rule coarse-quantizer size: cells of ~8·√(n/8) rows keep
    the per-probe rerank sublinear (probe cost ≈ n_probe·n/c → ~√n)
    instead of the fixed-c linear n/16. Floors at the static default —
    the oracle-gate corpora (sf0.01: 2000 rows → √250 ≈ 16) resolve to
    exactly the 16-centroid assignment the DuckDB oracle mirrors."""
    import math

    return max(_N_CENTROIDS, round(math.sqrt(n_rows / 8)))


def auto_lsh_bits(n_rows: int, n_tables: int = _LSH_TABLES) -> int:
    """Serving-LSH bucket width targeting ~2000 rerank candidates per
    query: bits = log2(n_tables·n / 2000), floored at the static
    default so the oracle-gate corpora keep the 4-bit plan the oracle
    mirrors. Wider buckets trade recall for candidate budget — the
    published SRP-LSH trade; the 0.96 recall floor is MEASURED at the
    gate scale (tests), and corpora that need scale-constant recall
    buy it with more tables (linear cost), not narrower buckets."""
    import math

    return max(_LSH_BITS, math.ceil(math.log2(max(1, n_tables * n_rows / 2000))))


def ensure_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: "int | None" = None,
    index_root: str | None = None,
) -> str:
    """Build-once cache of the :func:`build_ivf_index` disk layout
    (see :func:`_ensure_index` for the fingerprint/staging contract).

    ``n_centroids=None`` (the registered query's path) sizes the
    quantizer from the corpus row count (:func:`auto_ivf_centroids`);
    the resolved value is baked into the cache key and meta, so probes
    and rebuild checks always see the concrete number (the count is a
    memoized footer read — :func:`_corpus_rows` — never a per-call
    Spark job)."""
    if n_centroids is None:
        n_centroids = auto_ivf_centroids(_corpus_rows(sf_dir))
    return _ensure_index(
        f"ivf_c{n_centroids}",
        sf_dir,
        {"n_centroids": n_centroids},
        lambda tmp: build_ivf_index(
            load_table(spark, "embeddings", sf_dir), tmp, n_centroids
        ),
        index_root,
    )


def ensure_lsh_index(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = _LSH_TABLES,
    n_bits: "int | None" = None,
    index_root: str | None = None,
) -> str:
    """Build-once cache of the :func:`build_lsh_index` disk layout —
    the round-8 symmetric move to round 7's IVF serving shape, so the
    registered ``ann_topk_lsh`` stops re-banding the corpus per run
    (same fingerprint/staging contract as :func:`_ensure_index`).

    ``n_bits=None`` (the registered query's path) sizes the bucket
    width from the corpus row count (:func:`auto_lsh_bits`, via the
    memoized footer read :func:`_corpus_rows` — no per-call Spark
    job); probes read the resolved width from the index meta, so
    build and probe can never disagree."""
    if n_bits is None:
        n_bits = auto_lsh_bits(_corpus_rows(sf_dir), n_tables)
    return _ensure_index(
        f"lsh_t{n_tables}b{n_bits}",
        sf_dir,
        # part_bits in the fingerprint: pre-prefix-layout caches (full
        # bucket as the partition dir) must rebuild, not be probed
        {
            "n_tables": n_tables,
            "n_bits": n_bits,
            "part_bits": min(n_bits, _LSH_PART_BITS),
        },
        lambda tmp: build_lsh_index(
            load_table(spark, "embeddings", sf_dir), tmp, n_tables, n_bits
        ),
        index_root,
    )


def build_ivf_index(
    emb: DataFrame, index_dir: str, n_centroids: int = _N_CENTROIDS
) -> None:
    """Materialize the IVF index as a DISK LAYOUT: the corpus written
    partitioned by coarse cell (one directory per centroid) plus the
    centroid table alongside.

    This is the 100 TB serving shape the in-memory :func:`ivf_topk`
    plans toward: assignment runs once at build time (like any index
    build), and every probe afterwards reads only its ``n_probe``
    cell directories via partition pruning — ~n_probe/n_centroids of
    the bytes, enforced by the scan, not by a post-read filter.
    """
    cents = _ivf_cents(emb, n_centroids)
    assign = _ivf_assign(emb, cents)
    assign.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/corpus"
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")


def probe_assignments(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_probe: int = _N_PROBE,
) -> DataFrame:
    """(query_id, q_emb, cell) — each query's ``n_probe`` nearest
    coarse cells, from the broadcast-sized centroid table of a
    :func:`build_ivf_index` layout."""
    cents = spark.read.parquet(f"{index_dir}/centroids")
    return _ivf_probes(queries, cents, n_probe)


def ivf_probe_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    top_k: int = _TOP_K,
    n_probe: int = _N_PROBE,
) -> DataFrame:
    """Serve ANN queries from a :func:`build_ivf_index` layout.

    ``queries``: (query_id, q_emb). The probe cells come from the
    (broadcast-sized) centroid table; the cell list is collected and
    pushed into the corpus scan as a partition filter — the pruning is
    visible as PartitionFilters in the plan and pinned in pytest.
    Results are identical to :func:`ivf_topk` at the same knobs.
    """
    probes = probe_assignments(spark, index_dir, queries, n_probe)
    # the probed cell set is tiny by construction (|queries| × n_probe
    # over a broadcastable centroid table) — collecting it is what
    # turns the probe into a partition-pruned scan
    cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    corpus = spark.read.parquet(f"{index_dir}/corpus").filter(
        col("cell").isin(cells)
    )
    scored = (
        corpus.join(broadcast(probes), "cell")
        .filter(col("vec_id") != col("query_id"))
        .select(
            "query_id",
            col("vec_id").alias("neighbor_id"),
            cosine(col("q_emb"), col("embedding")).alias("cos_sim"),
        )
    )
    return _rerank_topk(scored, top_k)


def _ivf_cents(emb: DataFrame, n_centroids: int) -> DataFrame:
    """The coarse-centroid table (first n_centroids corpus vectors —
    a production system k-means these; the PLAN is identical)."""
    return emb.filter(col("vec_id") < n_centroids).select(
        col("vec_id").alias("cent_id"), col("embedding").alias("cent_emb")
    )


def _ivf_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment — THE one copy of the
    assignment plan, shared by the in-memory ivf_topk and the
    build_ivf_index disk layout (they re-stated it verbatim before
    round 14; a one-sided tiebreak edit would silently diverge the
    served index from the query the oracle checks)."""
    w_assign = Window.partitionBy("vec_id").orderBy(
        col("cent_cos").desc(), col("cent_id")
    )
    return (
        emb.join(broadcast(cents))
        .withColumn("cent_cos", cosine(col("embedding"), col("cent_emb")))
        .withColumn("crn", F.row_number().over(w_assign))
        .filter(col("crn") == 1)
        .select("vec_id", "embedding", col("cent_id").alias("cell"))
    )


def _ivf_probes(q: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Per-query n_probe nearest coarse cells — the one copy of the
    probe plan, shared by ivf_topk and probe_assignments."""
    w_probe = Window.partitionBy("query_id").orderBy(
        col("cent_cos").desc(), col("cent_id")
    )
    return (
        q.join(broadcast(cents))
        .withColumn("cent_cos", cosine(col("q_emb"), col("cent_emb")))
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(col("prn") <= n_probe)
        .select("query_id", "q_emb", col("cent_id").alias("cell"))
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = _N_QUERIES,
    top_k: int = _TOP_K,
    n_centroids: int = _N_CENTROIDS,
    n_probe: int = _N_PROBE,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize → probe n_probe
    cells → exact rerank.

    The inverted-file shape: every vector is assigned to its nearest
    coarse centroid (here the first n_centroids corpus vectors — a
    production system k-means these; the PLAN is identical), queries
    probe only their n_probe nearest cells, and the cell id is the
    equi-join key. At 100 TB the corpus is partitioned BY cell, so a
    probe reads ~n_probe/n_centroids of the data — the complementary
    trade to the sign-LSH variant (data-adaptive cells vs oblivious
    hashing).

    Scaling rules (recall gate in tests/test_similarity.py):

    ===========  =============================================
    knob         rule
    ===========  =============================================
    n_centroids  ~sqrt(|corpus|) (the IVF rule of thumb);
                 fixture: 16 over 2 000 vecs. 10⁹ vecs: ~32k —
                 the centroid set stays broadcastable.
    n_probe      recall lever at fixed cells; cost is linear in
                 n_probe. Raise it (not n_centroids) when
                 recall@k at the fixture gate drops.
    ===========  =============================================
    """
    cents = _ivf_cents(emb, n_centroids)
    assign = _ivf_assign(emb, cents)
    q = emb.filter(col("vec_id") < n_queries).select(
        col("vec_id").alias("query_id"), col("embedding").alias("q_emb")
    )
    probes = _ivf_probes(q, cents, n_probe)
    scored = (
        assign.join(broadcast(probes), "cell")
        .filter(col("vec_id") != col("query_id"))
        .select(
            "query_id",
            col("vec_id").alias("neighbor_id"),
            cosine(col("q_emb"), col("embedding")).alias("cos_sim"),
        )
    )
    return _rerank_topk(scored, top_k)


# ---------------------------------------------------------------------
# SRP-LSH on-disk serving layout (round 7) — the second index shape,
# complementary to the IVF one: oblivious hashing vs adaptive cells
# ---------------------------------------------------------------------
# Partition-directory key = first ≤6 bucket bits. Partitioning on the
# FULL bucket is a small-files catastrophe once widths adapt to the
# corpus: at 12 bits, 4 tables × 4096 buckets × 32 writer tasks tried
# to create ~half a million files (the build ran 20+ minutes before
# being killed, and the rm of its staging dir alone took minutes).
# Directories give coarse pruning (≤64 per table); the full bucket
# stays as a DATA column, sorted within each directory so parquet
# min/max row-group stats prune the rest of the way.
_LSH_PART_BITS = 6


def build_lsh_index(
    emb: DataFrame,
    index_dir: str,
    n_tables: int = _LSH_TABLES,
    n_bits: int = _LSH_BITS,
) -> None:
    """Materialize the multi-table SRP-LSH corpus as a DISK LAYOUT:
    one directory per (table, bucket-prefix) — ``tbl=<j>/bprefix=b<≤6
    bits>/`` — with the full bucket sorted inside each directory's
    files and the embedding stored alongside, plus an ``_LSH.json``
    knob record. A probe reads ONLY its probe directories via
    partition pruning, then its exact buckets via row-group stats —
    the same write-once-serve-many contract as :func:`build_ivf_index`
    (see ``_LSH_PART_BITS`` for why the directory key is capped). The
    'b' prefix on the partition value stops partition-value inference
    from coercing bit strings like '0011' to integers on read-back.
    """
    import json
    import os

    part_bits = min(n_bits, _LSH_PART_BITS)
    tables = [
        (j, sign_bucket("embedding", n_bits, seed=_emb_seed(j)))
        for j in range(n_tables)
    ]
    emb_b = (
        emb.select(
            "vec_id",
            "embedding",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("tbl"), b.alias("bucket"))
                        for j, b in tables
                    ]
                )
            ).alias("tb"),
        )
        .select(
            "vec_id",
            "embedding",
            col("tb.tbl").alias("tbl"),
            col("tb.bucket").alias("bucket"),
            F.concat(
                F.lit("b"), F.substring(col("tb.bucket"), 1, part_bits)
            ).alias("bprefix"),
        )
        # one writer task per output directory, buckets sorted within
        # it → one file per directory with prunable row groups
        .repartition(col("tbl"), col("bprefix"))
        .sortWithinPartitions("bucket")
    )
    emb_b.write.mode("overwrite").partitionBy("tbl", "bprefix").parquet(
        f"{index_dir}/corpus"
    )
    with open(os.path.join(index_dir, "_LSH.json"), "w") as fh:
        json.dump(
            {"n_tables": n_tables, "n_bits": n_bits, "part_bits": part_bits},
            fh,
        )


def lsh_probe_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    top_k: int = _TOP_K,
    multiprobe: bool = True,
) -> DataFrame:
    """Serve ANN queries from a :func:`build_lsh_index` layout.

    ``queries``: (query_id, q_emb). Each query's per-table bucket (and
    its Hamming-1 flips under ``multiprobe``) is computed with the
    same md5-seeded hyperplanes as the build; the tiny probe set is
    collected and pushed into the corpus scan as a partition filter —
    only the probed (tbl, bucket) directories are read. Candidates are
    deduplicated across tables/probes before the exact-cosine rerank,
    so results are identical to :func:`lsh_topk` at the same knobs
    (pinned in tests/test_similarity.py).
    """
    import json
    import os

    with open(os.path.join(index_dir, "_LSH.json")) as fh:
        knobs = json.load(fh)
    n_tables, n_bits = knobs["n_tables"], knobs["n_bits"]
    if "part_bits" not in knobs:
        # pre-round-8 layout: physically partitioned by the FULL
        # bucket, no bprefix column — probing it with this code would
        # read the wrong directories. ensure_lsh_index-managed caches
        # rebuild via the fingerprint; a directly-built old index
        # must be rebuilt explicitly.
        raise ValueError(
            f"{index_dir}: index layout predates bucket-prefix "
            "partitioning (_LSH.json has no part_bits) — rebuild it "
            "with build_lsh_index"
        )
    part_bits = knobs["part_bits"]
    tables = [
        (j, sign_bucket("q_emb", n_bits, seed=_emb_seed(j)))
        for j in range(n_tables)
    ]
    q = queries.select(
        "query_id",
        "q_emb",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("tbl"), b.alias("bucket"))
                    for j, b in tables
                ]
            )
        ).alias("tb"),
    ).select(
        "query_id", "q_emb", col("tb.tbl").alias("tbl"), col("tb.bucket").alias("bucket")
    )
    if multiprobe:
        q = q.withColumn(
            "bucket", F.explode(_probe_buckets(col("bucket"), n_bits))
        )
    q = q.withColumn(
        "bprefix", F.concat(F.lit("b"), F.substring(col("bucket"), 1, part_bits))
    )
    # the probe set is |queries|·n_tables·(n_bits+1) rows by
    # construction — collecting it is what turns the serve into a
    # partition-pruned scan (manual DPP, same idiom as the IVF probe).
    # Directory pruning is by (tbl, bprefix); the exact-bucket filter
    # rides the join below and parquet row-group stats (buckets are
    # sorted within each directory's file at build).
    probe_rows = q.select("tbl", "bprefix", "bucket").distinct().collect()
    probe_cells = {(r["tbl"], r["bprefix"]) for r in probe_rows}
    if not probe_cells:
        # empty query set: a legitimate serving-path input — return an
        # empty result with the contract schema instead of building a
        # null filter
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, rank int, cos_sim double",
        )
    cond = None
    for t in sorted({t for t, _ in probe_cells}):
        prefixes = sorted(b for tt, b in probe_cells if tt == t)
        leg = (col("tbl") == t) & col("bprefix").isin(prefixes)
        cond = leg if cond is None else (cond | leg)
    exact_buckets = sorted({r["bucket"] for r in probe_rows})
    corpus = (
        spark.read.parquet(f"{index_dir}/corpus")
        .filter(cond)
        # pushed to the scan → row-group min/max pruning within dirs
        .filter(col("bucket").isin(exact_buckets))
    )
    cand = (
        corpus.join(
            broadcast(q.select("query_id", "tbl", "bucket")),
            ["tbl", "bucket"],
        )
        .filter(col("vec_id") != col("query_id"))
        .groupBy("query_id", col("vec_id").alias("neighbor_id"))
        .agg(F.any_value("embedding").alias("n_emb"))
    )
    q_emb = queries.select(
        "query_id", col("q_emb").alias("qv"), l2_norm(col("q_emb")).alias("q_norm")
    )
    scored = cand.join(broadcast(q_emb), "query_id").select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot(col("qv"), col("n_emb")),
            col("q_norm") * l2_norm(col("n_emb")),
        ).alias("cos_sim"),
    )
    return _rerank_topk(scored, top_k)


# ---------------------------------------------------------------------
# Incremental embedding pair-graph store (round-8 stretch): the
# near-dup signal as persisted, incrementally-updatable state
# ---------------------------------------------------------------------
_GRAPH_META = "_GRAPH.json"


def _read_graph_meta(store_dir: str) -> "dict | None":
    """The store's pinned banding config + running unique count —
    ``{n_tables, n_bits, banded_gen, n_unique}``. Absent for a store
    that predates the meta (or a brand-new one): callers fall back to
    the static defaults, which is exactly the width such stores were
    banded at."""
    import json

    try:
        with open(os.path.join(store_dir, _GRAPH_META)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_graph_meta(store_dir: str, meta: dict) -> None:
    """Atomic (temp + rename) meta install — the COMMIT POINT of a
    re-banding compaction: until it lands, the old generation's meta
    and banded table stay authoritative."""
    import json
    import uuid

    os.makedirs(store_dir, exist_ok=True)
    tmp = os.path.join(store_dir, f".{_GRAPH_META}.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(store_dir, _GRAPH_META))


def _banded_loc(store_dir: str, table_prefix: str, gen: int) -> tuple[str, str]:
    """(catalog table base, path) of the banded relation at generation
    ``gen`` — generation 0 keeps the un-suffixed round-8 layout so
    existing stores read unchanged."""
    name = "banded" if gen == 0 else f"banded_g{gen}"
    return f"{table_prefix}_{name}", os.path.join(store_dir, name)


def update_emb_pair_graph(
    emb_batch: DataFrame,
    store_dir: str,
    version: int,
    table_prefix: str = "emb_graph",
    n_tables: int = _EMB_TABLES,
    n_bits: "int | None" = None,
    n_buckets: int = 16,
    auto_compact: bool = True,
    multiprobe: bool = False,
) -> None:
    """Extend the persisted embedding near-dup graph with one shard of
    new vectors — serving parity for the dedup family (the ANN queries
    got their on-disk index in round 7; this is the same economics for
    the pair graph, which a full recompute would otherwise rebuild
    from the whole 100 TB corpus per run).

    Four keyed state tables under ``store_dir`` via the append-log
    (merge-on-read) arm of the bucketed state
    (:func:`~pulsar_spark_spark.sources.bucketed.append_log_bucketed`:
    each shard is its own bucketed segment, a manifest lists segments
    atomically, and reads take the latest row per key):

    - ``keyed``   (key vec_id)           — vec → vector-group mapping
    - ``reps``    (key vkey)             — one row per unique vector:
      canonical rep id (min over ALL shards so far), group size,
      embedding
    - ``banded``  (key (vkey, tbl))      — the rep's SRP bucket per
      table, so candidate generation for a new shard touches only the
      stored rows whose (tbl, bucket) a NEW vector lands in
    - ``pairs``   (key (vkey_a, vkey_b)) — verified rep-level pairs
      (cross groups) plus (vkey, vkey) self-marks for multi-member
      groups; member-level answers fan out through ``keyed``

    Shards are APPEND-ONLY in vec_id: re-shipping an id with a
    DIFFERENT embedding is undefined (keyed would repoint while the
    old group's counts/pairs stand) — mutate-in-place corpora should
    version ids upstream instead, like any ingest ledger.

    Per-shard COMPUTE is O(batch × mean bucket occupancy): only NEW
    unique vectors are banded and bucket-joined (against the stored
    banded relation plus themselves), then cosine-scored; previously
    verified pairs are never re-scored. Occupancy is n_unique /
    2^n_bits per table, so at a FIXED width the candidate join
    degrades linearly as the store accumulates corpus — the exact
    failure :func:`auto_emb_bits` diagnoses for the batch path. The
    store therefore tracks its running unique count in ``_GRAPH.json``
    and — ``auto_compact=True``, the default since round 10, the same
    discipline as the MOR log's ``_AUTO_COMPACT_SEGMENTS`` trigger —
    runs :func:`compact_emb_pair_graph` AFTER the shard commits once
    the accumulated count outgrows the pinned width
    (``auto_emb_bits(n_unique) > n_bits``), re-banding the reps at the
    adaptive width (a new banded generation) so occupancy returns to
    the ~cap/2 target and the per-shard bound is restored. The
    compaction is O(n_unique) but width boundaries are geometric in
    the corpus (one extra bit per doubling past the floor), so the
    amortized cost per ingested row is O(1) — and because it runs
    after the meta commit, a crash inside it leaves a fully-committed
    shard plus the standing occupancy debt, which the next ingest or
    manual compaction clears.

    .. warning:: LATENCY (upgraders from round 9): with the round-10
       ``auto_compact=True`` default, the ingest call that crosses a
       width boundary synchronously absorbs the whole O(n_unique)
       re-band — its wall is the re-band's, not the shard's (measured
       round 11, SCALE.md compaction table / emb_recall.json:
       tens of seconds at 200k uniques on local[32], vs ~5 s quiet
       shards; grows linearly in store size, shrinks with cluster
       width). Amortized cost is unchanged, but p99 shard latency is
       not amortized: SLO-bound ingesters should pass
       ``auto_compact=False`` and run :func:`compact_emb_pair_graph`
       from a maintenance window / operator runbook instead — the
       standing occupancy debt only degrades candidate-join cost,
       never correctness. ``auto_compact=False`` is exactly the
       round-9 behavior (WARN and leave it to the runbook).

    Per-shard WRITE I/O is O(batch): the log arm appends
    one segment per table instead of rewriting the accumulated state
    (the COW/MOR trade — reads pay the latest-wins merge, bounded by
    the log's LSM auto-compaction). Candidate semantics equal the
    batch pipeline's UNCAPPED generator (a per-batch bucket cap would
    depend on arrival order; callers wanting the boilerplate guard
    apply it upstream by dropping template shards before ingest).

    ``n_bits=None`` (default) resolves the banding width from the
    store meta — all shards of one store generation band identically
    by construction; an explicit width must match the store's (a
    mismatch raises — re-banding is compaction's job, never an
    ingest side effect).

    Crash/replay contract (single writer, whole-shard retries):
    keyed/banded/pairs rows are pure functions of the data, so
    re-appended duplicates are absorbed by the read-time latest-wins
    merge; the reps fold (which ACCUMULATES grp_n) is version-gated
    and committed LAST, so a retry after a crash at any point
    recomputes identical rows and folds reps once-effectively, and
    replaying an already-committed shard changes nothing — the same
    T3 idempotence discipline as the streaming sinks, pinned in
    tests/test_similarity.py. ``read_emb_components`` turns the stored graph
    into member-level components equal to a from-scratch
    :func:`emb_components` over the accumulated corpus (pinned in
    tests/test_similarity.py).
    """
    from pulsar_spark_spark.sources.bucketed import (
        append_log_bucketed,
        read_log_bucketed,
    )

    import warnings

    spark = emb_batch.sparkSession
    t = lambda name: f"{table_prefix}_{name}"
    p = lambda name: os.path.join(store_dir, name)

    meta = _read_graph_meta(store_dir)
    if meta is not None:
        if n_tables != meta["n_tables"]:
            raise ValueError(
                f"store {store_dir} is banded with {meta['n_tables']} "
                f"tables; got n_tables={n_tables}"
            )
        if n_bits is not None and n_bits != meta["n_bits"]:
            raise ValueError(
                f"store {store_dir} is banded at {meta['n_bits']} bits; "
                f"pass n_bits=None (or re-band via compact_emb_pair_graph), "
                f"got n_bits={n_bits}"
            )
        n_bits = meta["n_bits"]
        banded_gen = meta["banded_gen"]
        if not auto_compact and auto_emb_bits(meta.get("n_unique", 0)) > n_bits:
            warnings.warn(
                f"emb pair-graph store {store_dir}: ~{meta['n_unique']} "
                f"accumulated unique vectors outgrow the {n_bits}-bit "
                f"banding (candidate join now scales with occupancy "
                f"{meta['n_unique'] / 2 ** n_bits:.0f}/bucket) — run "
                "compact_emb_pair_graph to re-band at the adaptive width",
                stacklevel=2,
            )
    else:
        n_bits = _EMB_BITS if n_bits is None else n_bits
        banded_gen = 0
    banded_table, banded_path = _banded_loc(store_dir, table_prefix, banded_gen)

    vkey = _emb_vkey()
    keyed_new = emb_batch.select(
        "vec_id", vkey.alias("vkey"), F.lit(version).alias("version")
    )
    bg = (
        emb_batch.select("vec_id", "embedding", vkey.alias("vkey"))
        .groupBy("vkey")
        .agg(
            F.min("vec_id").alias("rep_b"),
            F.count(F.lit(1)).alias("cnt"),
            F.min_by("embedding", "vec_id").alias("embedding"),
        )
        .transform(materialize)
    )
    try:
        old = read_log_bucketed(spark, t("reps"), p("reps"), "vkey", "version")
    except FileNotFoundError:
        old = None
    if old is not None:
        # touch ONLY the batch's keys (the rescore-stream discipline)
        touched = old.join(bg.select("vkey"), "vkey").select(
            "vkey",
            col("rep").alias("rep_o"),
            col("grp_n").alias("grp_o"),
            col("version").alias("version_o"),
        )
        # version gate: a shard already folded into reps (replay of a
        # fully-committed ingest) must not double-count grp_n; reps is
        # appended LAST below, so any partial-failure replay re-runs
        # appends the read-time merge absorbs, then folds reps once
        already = col("version_o").isNotNull() & (col("version_o") >= version)
        merged = (
            bg.join(touched, "vkey", "left")
            .select(
                "vkey",
                F.least(col("rep_b"), F.coalesce("rep_o", "rep_b")).alias("rep"),
                F.when(already, col("grp_o"))
                .otherwise(col("cnt") + F.coalesce("grp_o", F.lit(0)))
                .alias("grp_n"),
                "embedding",
                F.lit(version).alias("version"),
            )
            .transform(materialize)
        )
        new_keys = bg.join(touched.select("vkey"), "vkey", "left_anti").select(
            "vkey"
        )
    else:
        merged = bg.select(
            "vkey",
            col("rep_b").alias("rep"),
            col("cnt").alias("grp_n"),
            "embedding",
            F.lit(version).alias("version"),
        ).transform(materialize)
        new_keys = bg.select("vkey")
    # band ONLY the never-seen-before unique vectors
    tables = _emb_tables_expr(n_tables, n_bits)
    # explicit respread before the 32-hyperplane banding projection:
    # AQE coalesces the small post-collapse shuffle to very few
    # partitions, which would serialize the expensive bucket
    # expressions (the emb_near_dup_candidates trap, mirrored here)
    n_spread = spark.sparkContext.defaultParallelism * 2
    new_banded = (
        merged.join(new_keys, "vkey")
        .repartition(n_spread, col("vkey"))
        .select("vkey", F.explode(tables).alias("tb"))
        .select(
            "vkey",
            col("tb.tbl").alias("tbl"),
            col("tb.bucket").alias("bucket"),
            F.lit(version).alias("version"),
        )
        .transform(materialize)
    )
    try:
        stored_banded = read_log_bucketed(
            spark, banded_table, banded_path, ["vkey", "tbl"], "version"
        ).select("vkey", "tbl", "bucket")
    except FileNotFoundError:
        stored_banded = None
    both = (
        new_banded.select("vkey", "tbl", "bucket")
        if stored_banded is None
        else stored_banded.unionByName(new_banded.select("vkey", "tbl", "bucket"))
    )
    if multiprobe:
        # opt-in Hamming-1 probing of the NEW side only (same trade
        # as emb_near_dup_candidates' knob): a new vector probes the
        # stored buckets one flip away, lifting banding recall in the
        # 0.9-0.97 band at (n_bits+1)× probe volume. Knob choice must
        # be CONSISTENT across a store's shards — pairs already
        # verified stay verified either way, but recall of pairs
        # discovered later depends on the arm each shard ran.
        a = new_banded.select(
            col("vkey").alias("vkey_a"),
            "tbl",
            F.explode(
                F.array(
                    col("bucket"),
                    *[
                        _flip_bit(col("bucket"), i, n_bits)
                        for i in range(n_bits)
                    ],
                )
            ).alias("bucket"),
        ).alias("a")
    else:
        a = new_banded.select(
            col("vkey").alias("vkey_a"), "tbl", "bucket"
        ).alias("a")
    b = both.select(col("vkey").alias("vkey_b"), "tbl", "bucket").alias("b")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(col("vkey_a") != col("vkey_b"))
        .select(
            F.least("vkey_a", "vkey_b").alias("vkey_a"),
            F.greatest("vkey_a", "vkey_b").alias("vkey_b"),
        )
        .distinct()
    )
    # embeddings for both candidate sides: batch-touched from merged,
    # the rest from stored reps (candidates are bucket-matched, tiny)
    all_reps = (
        merged.select("vkey", "embedding")
        if old is None
        else merged.select("vkey", "embedding").unionByName(
            old.select("vkey", "embedding").join(
                merged.select("vkey"), "vkey", "left_anti"
            )
        )
    )
    ea = all_reps.select(col("vkey").alias("vkey_a"), col("embedding").alias("emb_a"))
    eb = all_reps.select(col("vkey").alias("vkey_b"), col("embedding").alias("emb_b"))
    cross = (
        cand.join(ea, "vkey_a")
        .join(eb, "vkey_b")
        .withColumn("cos_sim", cosine(col("emb_a"), col("emb_b")))
        .filter(col("cos_sim") >= _NEAR_DUP_COS)
        .select("vkey_a", "vkey_b", F.round("cos_sim", 6).alias("cos_sim"))
    )
    # self-marks go through the SAME verify gate as cross pairs (the
    # batch pipeline filters (rep, rep) candidates too): a zero-norm
    # vector yields cos(v, v) = NaN, which must not cluster — without
    # the filter the store would diverge from emb_components here
    self_marks = (
        merged.filter(col("grp_n") > 1)
        .withColumn("self_cos", cosine(col("embedding"), col("embedding")))
        .filter(col("self_cos") >= _NEAR_DUP_COS)
        .select(
            col("vkey").alias("vkey_a"),
            col("vkey").alias("vkey_b"),
            F.round("self_cos", 6).alias("cos_sim"),
        )
    )
    pairs_new = cross.unionByName(self_marks).withColumn(
        "version", F.lit(version)
    )
    # commit order matters: the three pure-append relations first,
    # the version-gated reps fold LAST — a crash anywhere before the
    # reps append makes a whole-shard retry recompute and re-append
    # rows the read-time latest-wins merge absorbs, then fold reps
    # once-effectively
    # Inline auto-compaction is DISABLED for the in-shard appends
    # (auto_compact_segments=None) and run explicitly after the whole
    # commit sequence below: an append that crossed the threshold
    # mid-shard used to fold its log and delete the old segment
    # directories while the LATER appends' lazy plans (pairs_new
    # reads stored_banded; merged reads old reps) were still bound to
    # those paths — a deterministic FileNotFoundException every time
    # a manifest crossed 32 segments mid-shard, crashing the shard
    # half-committed.
    shard_logs = (
        (keyed_new, t("keyed"), p("keyed"), "vec_id"),
        (new_banded, banded_table, banded_path, ["vkey", "tbl"]),
        (pairs_new, t("pairs"), p("pairs"), ["vkey_a", "vkey_b"]),
        (merged, t("reps"), p("reps"), "vkey"),
    )
    for rel, tb, pb, k in shard_logs:
        append_log_bucketed(
            rel, tb, pb, k, "version", n_buckets,
            auto_compact_segments=None,
        )
    # running unique count for the occupancy guard: counting the
    # (checkpointed, just-appended) banded relation is a cached scan.
    # A replay of a fully-committed shard contributes 0 (its keys are
    # already in reps); a partial-failure retry that lands AFTER a
    # crashed post-reps meta write undercounts — benign, the count is
    # a sizing heuristic and compaction recomputes it exactly.
    n_new = new_banded.count() // max(1, n_tables)
    total_unique = (meta or {}).get("n_unique", 0) + n_new
    _write_graph_meta(
        store_dir,
        {
            "n_tables": n_tables,
            "n_bits": n_bits,
            "banded_gen": banded_gen,
            "n_unique": total_unique,
        },
    )
    # The deferred per-log segment-count compaction (the trigger the
    # in-shard appends disabled above): every lazy plan of this shard
    # has been fully evaluated by now, so folding and deleting old
    # segments is safe. Same bounded-read-cost property, safe order.
    if auto_compact:
        from pulsar_spark_spark.sources.bucketed import (
            _AUTO_COMPACT_SEGMENTS,
            _read_manifest,
            compact_log,
        )

        for _rel, tb, pb, k in shard_logs:
            if len(_read_manifest(pb)) >= _AUTO_COMPACT_SEGMENTS:
                compact_log(spark, tb, pb, k, "version", n_buckets)
    # auto re-band AFTER the shard's atomic commit (docstring: the
    # LSM-trigger discipline) — a crash inside compaction cannot lose
    # or double-fold shard state, only defer the re-band.
    if auto_compact and auto_emb_bits(total_unique) > n_bits:
        compact_emb_pair_graph(spark, store_dir, table_prefix, n_buckets=n_buckets)


def compact_emb_pair_graph(
    spark: SparkSession,
    store_dir: str,
    table_prefix: str = "emb_graph",
    n_bits: "int | None" = None,
    n_buckets: int = 16,
) -> dict:
    """Maintenance pass for the incremental pair-graph store: fold the
    append-logs and — the width-migration step that keeps
    :func:`update_emb_pair_graph`'s per-shard bound honest — re-band
    the accumulated reps at the corpus-adaptive SRP width when the
    store has outgrown its pinned one.

    1. Compacts each state table's log to one segment (read-opt).
    2. Recomputes the EXACT unique-vector count from reps (the meta's
       running count is a heuristic that replay paths may undercount).
    3. Resolves the target width — ``n_bits`` explicit, else
       :func:`auto_emb_bits` over the exact count. If it differs from
       the store's width, the reps are re-banded via the shared
       :func:`_emb_tables_expr` into a NEW banded generation
       (``banded_g<n>``), and the meta install is the atomic commit:
       a crash anywhere before it leaves the old generation
       authoritative and the new one an orphan that the next
       compaction clears.

    Only ``banded`` migrates: ``pairs`` holds exact-cosine VERIFIED
    truth and ``keyed``/``reps`` are banding-independent, so verified
    history survives every re-band (candidates for future shards are
    generated at the new width, same as a batch run at that width).

    Returns the committed meta dict. O(n_unique) — one pass over
    reps, amortized over the shards since the last compaction, the
    same economics as the ANN index builds.
    """
    import shutil

    from pulsar_spark_spark.sources.bucketed import (
        _read_manifest,
        compact_log,
        read_log_bucketed,
    )

    t = lambda name: f"{table_prefix}_{name}"
    p = lambda name: os.path.join(store_dir, name)
    meta = _read_graph_meta(store_dir) or {
        "n_tables": _EMB_TABLES,
        "n_bits": _EMB_BITS,
        "banded_gen": 0,
        "n_unique": 0,
    }
    n_tables, cur_bits, gen = meta["n_tables"], meta["n_bits"], meta["banded_gen"]
    banded_table, banded_path = _banded_loc(store_dir, table_prefix, gen)

    compact_log(spark, t("keyed"), p("keyed"), "vec_id", "version", n_buckets)
    compact_log(spark, t("pairs"), p("pairs"), ["vkey_a", "vkey_b"], "version", n_buckets)
    compact_log(spark, t("reps"), p("reps"), "vkey", "version", n_buckets)
    reps = read_log_bucketed(spark, t("reps"), p("reps"), "vkey", "version")
    n_unique = reps.count()
    target = n_bits if n_bits is not None else auto_emb_bits(n_unique)

    if target == cur_bits:
        compact_log(
            spark, banded_table, banded_path, ["vkey", "tbl"], "version", n_buckets
        )
        new_meta = {**meta, "n_unique": n_unique}
        _write_graph_meta(store_dir, new_meta)
        return new_meta

    new_gen = gen + 1
    new_table, new_path = _banded_loc(store_dir, table_prefix, new_gen)
    if os.path.exists(new_path):
        # orphan of a crashed compaction (uncommitted by definition —
        # the meta still points at `gen`): clear it before rebuilding,
        # or the fresh re-band would APPEND onto stale segments
        for seg in _read_manifest(new_path):
            spark.sql(f"DROP TABLE IF EXISTS {new_table}_{seg}")
        shutil.rmtree(new_path, ignore_errors=True)
    n_spread = spark.sparkContext.defaultParallelism * 2
    rebanded = (
        reps.select("vkey", "embedding")
        .repartition(n_spread, col("vkey"))
        .select("vkey", F.explode(_emb_tables_expr(n_tables, target)).alias("tb"))
        .select(
            "vkey",
            col("tb.tbl").alias("tbl"),
            col("tb.bucket").alias("bucket"),
            F.lit(0).alias("version"),
        )
    )
    from pulsar_spark_spark.sources.bucketed import append_log_bucketed

    # catalog=True: the fresh generation is read as a SINGLE segment
    # by every subsequent shard's candidate join until new appends
    # land — the one log state where the bucketed-table no-Exchange
    # window merge actually engages (see append_log_bucketed)
    append_log_bucketed(
        rebanded,
        new_table,
        new_path,
        ["vkey", "tbl"],
        "version",
        n_buckets,
        auto_compact_segments=None,
        catalog=True,
    )
    new_meta = {
        "n_tables": n_tables,
        "n_bits": target,
        "banded_gen": new_gen,
        "n_unique": n_unique,
    }
    _write_graph_meta(store_dir, new_meta)  # the commit point
    for seg in _read_manifest(banded_path):
        spark.sql(f"DROP TABLE IF EXISTS {banded_table}_{seg}")
    shutil.rmtree(banded_path, ignore_errors=True)
    return new_meta


def emb_graph_stats(
    spark: SparkSession, store_dir: str, table_prefix: str = "emb_graph"
) -> dict:
    """Occupancy observability for the pair-graph store — the number
    :func:`update_emb_pair_graph`'s candidate-join cost actually
    scales with: ``{n_unique, n_bits, banded_gen, mean_bucket,
    max_bucket}`` over the stored banded relation."""
    from pulsar_spark_spark.sources.bucketed import read_log_bucketed

    meta = _read_graph_meta(store_dir) or {
        "n_tables": _EMB_TABLES,
        "n_bits": _EMB_BITS,
        "banded_gen": 0,
        "n_unique": None,
    }
    banded_table, banded_path = _banded_loc(
        store_dir, table_prefix, meta["banded_gen"]
    )
    banded = read_log_bucketed(
        spark, banded_table, banded_path, ["vkey", "tbl"], "version"
    )
    occ = banded.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("n"))
    row = occ.agg(
        F.round(F.avg("n"), 2).alias("mean_bucket"), F.max("n").alias("max_bucket")
    ).first()
    return {
        "n_unique": meta.get("n_unique"),
        "n_bits": meta["n_bits"],
        "banded_gen": meta["banded_gen"],
        "mean_bucket": row["mean_bucket"],
        "max_bucket": row["max_bucket"],
    }


def read_emb_member_pairs(
    spark: SparkSession, store_dir: str, table_prefix: str = "emb_graph"
) -> DataFrame:
    """Member-level (vec_a, vec_b, cos_sim) from the persisted
    pair-graph store — the serving-side twin of
    :func:`emb_near_dup_pairs` (same fan-out rules: the verified
    rep-level relation fans out through the membership map; the
    ``(rep_a != rep_b) | (m_a < m_b)`` filter keeps cross-group pairs
    once and expands a multi-member group's self-mark to its internal
    pairs). Used by tools/emb_recall.py to measure recall through an
    auto-compaction width boundary."""
    from pulsar_spark_spark.sources.bucketed import read_log_bucketed

    t = lambda name: f"{table_prefix}_{name}"
    p = lambda name: os.path.join(store_dir, name)
    keyed = read_log_bucketed(spark, t("keyed"), p("keyed"), "vec_id", "version")
    reps = read_log_bucketed(spark, t("reps"), p("reps"), "vkey", "version")
    pairs = read_log_bucketed(
        spark, t("pairs"), p("pairs"), ["vkey_a", "vkey_b"], "version"
    )
    rep_of = reps.select("vkey", "rep")
    verified = (
        pairs.join(
            rep_of.select(col("vkey").alias("vkey_a"), col("rep").alias("rep_a")),
            "vkey_a",
        )
        .join(
            rep_of.select(col("vkey").alias("vkey_b"), col("rep").alias("rep_b")),
            "vkey_b",
        )
        .select("vkey_a", "vkey_b", "rep_a", "rep_b", "cos_sim")
    )
    # materialize BEFORE the bounded-broadcast guard: its .count()
    # executes the relation, and an unmaterialized `verified` is a
    # three-log merge + two joins — the guard would run that whole
    # plan once for the count and the serve join would run it again
    # (broadcast_if_bounded's cheap-count contract, checkpoint.py)
    verified = materialize(verified)
    ma = keyed.select(col("vkey").alias("vkey_a"), col("vec_id").alias("m_a"))
    mb = keyed.select(col("vkey").alias("vkey_b"), col("vec_id").alias("m_b"))
    return (
        ma.join(broadcast_if_bounded(verified), "vkey_a")
        .join(mb, "vkey_b")
        .filter((col("rep_a") != col("rep_b")) | (col("m_a") < col("m_b")))
        .select(
            F.least("m_a", "m_b").alias("vec_a"),
            F.greatest("m_a", "m_b").alias("vec_b"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def read_emb_components(
    spark: SparkSession, store_dir: str, table_prefix: str = "emb_graph"
) -> DataFrame:
    """Member-level (node=vec_id, component=min vec_id) from the
    persisted pair-graph store — the serving-side twin of
    :func:`emb_components` over the accumulated corpus."""
    from pulsar_spark_spark.plans.text import component_walk
    from pulsar_spark_spark.sources.bucketed import read_log_bucketed

    t = lambda name: f"{table_prefix}_{name}"
    p = lambda name: os.path.join(store_dir, name)
    keyed = read_log_bucketed(spark, t("keyed"), p("keyed"), "vec_id", "version")
    reps = read_log_bucketed(spark, t("reps"), p("reps"), "vkey", "version")
    pairs = read_log_bucketed(
        spark, t("pairs"), p("pairs"), ["vkey_a", "vkey_b"], "version"
    )
    rep_of = reps.select("vkey", "rep")
    cross = (
        pairs.filter(col("vkey_a") != col("vkey_b"))
        .join(rep_of.select(col("vkey").alias("vkey_a"), col("rep").alias("rep_a")), "vkey_a")
        .join(rep_of.select(col("vkey").alias("vkey_b"), col("rep").alias("rep_b")), "vkey_b")
        .select("rep_a", "rep_b")
    )
    comp_rep = component_walk(cross, "rep_a", "rep_b")
    self_only = (
        pairs.filter(col("vkey_a") == col("vkey_b"))
        .join(rep_of.select(col("vkey").alias("vkey_a"), "rep"), "vkey_a")
        .select(col("rep").alias("node"))
        .distinct()
        .join(comp_rep.select("node"), "node", "left_anti")
        .withColumn("component", col("node"))
    )
    rep_comp = comp_rep.unionByName(self_only)
    return (
        rep_comp.join(rep_of.select(col("rep").alias("node"), "vkey"), "node")
        .join(keyed.select("vec_id", "vkey"), "vkey")
        .select(col("vec_id").alias("node"), "component")
    )
