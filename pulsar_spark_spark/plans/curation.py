"""Training-data curation operators over ``documents``: benchmark
decontamination and deterministic stratified sampling.

Both are first-class stages of an LLM data pipeline (the brief's
extension surface beyond the reference's own operators; tokenizer and
md5 hashing lineage as in plans/text.py):

- **Decontamination** (``doc_decontamination``): flag corpus documents
  that share ≥ K distinct word-3-grams with any *benchmark* document
  (the standard n-gram-overlap contamination test, e.g. GPT-3 appendix
  C / PaLM-style 8-gram checks — K and the gram order are knobs). The
  benchmark side is tiny by definition (eval suites, not corpora), so
  the gram join BROADCASTS the benchmark grams: the 100 TB corpus side
  is scanned once, map-side, with NO shuffle of corpus grams at all.
  The df cap from plans/text.py applies to the corpus side so a
  stop-phrase gram cannot fan out.
- **Stratified sampling** (``doc_stratified_sample``): downsample
  over-represented (source, lang) strata to ≈ a per-stratum target
  using a deterministic md5-hash threshold: keep iff
  ``hash01(doc_id) < target / |stratum|``. The keep decision is a
  pure per-row predicate against a broadcast rate table — map-side
  only, NO shuffle of the corpus, reproducible across runs/engines
  (no RNG state). The alternative exact-K design (row_number over
  hash order per stratum) needs a window partitioned by the LOW-
  cardinality stratum key — a guaranteed skew bottleneck at 100 TB —
  so the hash-threshold form (sample size concentrates tightly
  around the target) is the scale-correct choice.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col

from pulsar_spark_spark.functions.text import md5_i64
from pulsar_spark_spark.plans.registry import query
from pulsar_spark_spark.plans.text import (
    _MAX_GRAM_DF,
    _sql_winnowed_grams,
    pruned_grams,
)
from pulsar_spark_spark.sources.tables import load_table

# Fixture stand-in for "the benchmark suite": every 25th document.
# In production this is a separate (small) relation of eval-set docs.
_BENCH_MOD = 25

# Minimum shared distinct 3-grams for a contamination flag. Production
# decontamination uses higher-order grams (8- or 13-grams) where ANY
# shared gram flags; with the fixture's word-3-grams the equivalent
# discrimination point is low (the fixture's one planted contamination
# shares 23 grams, background noise peaks at 3), and K=2 keeps the
# noise tier visible in the output so the gate checks real counts.
_DECONTAM_MIN_SHARED = 2

# Per-stratum sample target (documents per (source, lang) cell). The
# fixture's strata hold ~5 docs, so 3 exercises genuine downsampling
# (a target above the stratum size degenerates to keep-all).
_SAMPLE_TARGET = 3

_HASH_SCALE = float(1 << 60)  # md5_i64 yields a uniform 60-bit int

# Broadcast bound for the decontamination benchmark side, in gram
# rows: broadcast_if_bounded's 5M-row default (~0.5 GB framed).
_BENCH_BROADCAST_MAX_ROWS = 5_000_000


# Oracle bodies (no ORDER BY) — composed into the single registered
# ``doc_curation`` oracle below; the per-stage functions stay public
# and pytest-covered, but registry slots are capped at the driver's
# 50-row gate (round 8 consolidation).
# Decontamination deliberately stays on the FULL distinct gram set
# (w=1, raw df cap): it is a RECALL operator — production flags on ANY
# shared high-order gram — so the containment family's round-10
# winnowing (a density trade for the pairwise self-join) would drop
# signal here for no join to pay for: the benchmark side is broadcast
# and tiny, never self-joined.
_DECONTAM_ORACLE = f"""
        WITH grams AS ({_sql_winnowed_grams(1)}),
        hot AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) > {_MAX_GRAM_DF}
        ),
        pruned AS (
            SELECT doc_id, g FROM grams WHERE g NOT IN (SELECT g FROM hot)
        ),
        bench AS (
            SELECT doc_id AS bench_id, g FROM pruned
            WHERE doc_id % {_BENCH_MOD} = 0
        ),
        corpus AS (
            SELECT doc_id, g FROM pruned WHERE doc_id % {_BENCH_MOD} != 0
        ),
        hits AS (
            SELECT c.doc_id AS doc_id, b.bench_id AS bench_id,
                   count(*) AS n_shared
            FROM corpus c JOIN bench b ON c.g = b.g
            GROUP BY c.doc_id, b.bench_id
            HAVING count(*) >= {_DECONTAM_MIN_SHARED}
        )
        SELECT doc_id,
               count(*)      AS n_bench_hits,
               max(n_shared) AS max_shared
        FROM hits
        GROUP BY doc_id
"""

_SAMPLE_ORACLE = f"""
        WITH counts AS (
            SELECT source, lang, count(*) AS n_stratum
            FROM documents GROUP BY source, lang
        )
        SELECT d.doc_id AS doc_id, d.source AS source, d.lang AS lang,
               c.n_stratum AS n_stratum
        FROM documents d JOIN counts c
          ON d.source = c.source AND d.lang = c.lang
        WHERE CAST(('0x' || substr(md5('samp:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                   AS DOUBLE) / {_HASH_SCALE!r}
              < least(1.0, {_SAMPLE_TARGET} / CAST(c.n_stratum AS DOUBLE))
"""


def _bench_gram_rows(docs: DataFrame) -> "int | None":
    """Upper estimate of the benchmark side's gram rows from the
    parquet FOOTERS of ``docs`` (zero Spark jobs): a document has at
    most one distinct word 3-gram per token and one token per 2 bytes
    of uncompressed ``text``, and 1/``_BENCH_MOD`` of the corpus is
    benchmark. ``None`` for in-memory relations and for files whose
    footer cannot be read."""
    import pyarrow.parquet as pq

    files = docs.inputFiles()
    if not files:
        return None
    text_bytes = 0
    for p in files:
        try:
            meta = pq.ParquetFile(p[5:] if p.startswith("file:") else p).metadata
        except (OSError, ValueError):
            return None
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            text_bytes += sum(
                rg.column(j).total_uncompressed_size
                for j in range(rg.num_columns)
                if rg.column(j).path_in_schema == "text"
            )
    return text_bytes // 2 // _BENCH_MOD


def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ K distinct
    word-3-grams with at least one benchmark document, with the number
    of benchmark docs hit and the worst overlap.

    Plan shape: corpus grams stream map-side against the benchmark
    gram set, broadcast WHILE BOUNDED (benchmark suites are tiny
    relative to the corpus, but this one is carved out of the corpus
    itself — 1/25 of its gram rows — so an unconditional broadcast
    hint grows linearly with corpus size and would blow the 8 GB
    broadcast limit / driver heap at the 100 TB target). The bound is
    checked against the gram rows estimated from the parquet FOOTERS
    (:func:`_bench_gram_rows`, zero Spark jobs — the resolve_band_plan
    discipline): within ``_BENCH_BROADCAST_MAX_ROWS`` the benchmark
    side broadcasts unconditionally; above it — a big corpus or a few
    very long documents — or when footers cannot bound it, the
    counted ``broadcast_if_bounded`` guard decides, degrading to the
    shuffle join at the 100 TB target. Round 15: the r14 form ran the counted
    guard (a count job) over an EXTRA localCheckpoint of the benchmark
    grams on every fixture-scale run, which is what regressed
    doc_curation vs r13 (cross-tree A/B 1.50 vs 1.82 s, r13 ahead in
    all 3 interleaved rounds); the footer gate removes both jobs while
    keeping the scale guard. The only shuffle is the per-(doc, bench)
    overlap count, whose input is already reduced to actual overlaps.
    The df cap bounds any single gram's fanout on both sides.
    """
    from pulsar_spark_spark.operators.checkpoint import broadcast_if_bounded

    docs = load_table(spark, "documents", sf_dir)
    grams = pruned_grams(docs, w=1)
    bench = grams.filter(col("doc_id") % _BENCH_MOD == 0).select(
        col("doc_id").alias("bench_id"), "g"
    )
    est = _bench_gram_rows(docs)
    if est is not None and est <= _BENCH_BROADCAST_MAX_ROWS:
        bench_side = F.broadcast(bench)
    else:
        # the counted guard re-scans pruned_grams' existing checkpoint
        # (the filter pushes into the block scan) — no extra
        # materialization needed for the count to be cheap
        bench_side = broadcast_if_bounded(bench, _BENCH_BROADCAST_MAX_ROWS)
    corpus = grams.filter(col("doc_id") % _BENCH_MOD != 0)
    hits = (
        corpus.join(bench_side, "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(col("n_shared") >= _DECONTAM_MIN_SHARED)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.max("n_shared").alias("max_shared"),
        )
        .orderBy("doc_id")
    )


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: keep each document iff its
    md5-derived uniform ``hash01(doc_id) < target / |stratum|``, so
    every (source, lang) stratum lands ≈ ``_SAMPLE_TARGET`` docs
    regardless of how over-represented it is.

    The rate table is a tiny aggregate joined back by BROADCAST; the
    keep decision is then a map-side-only predicate — the corpus is
    never shuffled, and the sample is bit-reproducible (pure function
    of doc_id) on any engine, unlike ``df.sample`` whose output
    depends on partitioning and RNG seeds.
    """
    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_stratum")
    )
    u = md5_i64(F.concat(F.lit("samp:"), col("doc_id").cast("string"))).cast(
        "double"
    ) / F.lit(_HASH_SCALE)
    rate = F.least(
        F.lit(1.0), F.lit(float(_SAMPLE_TARGET)) / col("n_stratum").cast("double")
    )
    return (
        docs.join(F.broadcast(counts), ["source", "lang"])
        .filter(u < rate)
        .select("doc_id", "source", "lang", "n_stratum")
        .orderBy("doc_id")
    )


@query(
    "doc_curation",
    oracle=f"""
        WITH decon AS (
            {_DECONTAM_ORACLE}
        ), samp AS (
            {_SAMPLE_ORACLE}
        )
        SELECT COALESCE(dc.doc_id, s.doc_id) AS doc_id,
               dc.n_bench_hits               AS n_bench_hits,
               dc.max_shared                 AS max_shared,
               s.source                      AS source,
               s.lang                        AS lang,
               s.n_stratum                   AS n_stratum
        FROM decon dc FULL OUTER JOIN samp s ON dc.doc_id = s.doc_id
        ORDER BY doc_id
    """,
)
def doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both curation stages as ONE registered relation (round-8
    consolidation to fit the driver's 50-row gate): a full-outer join
    of :func:`doc_decontamination` (n_bench_hits/max_shared — null for
    clean docs) and :func:`doc_stratified_sample` (source/lang/
    n_stratum — null for docs the sampler dropped) on doc_id. Each
    column family is exactly its stage's output, so the value hash
    still gates both plans; the join adds one output-sized shuffle on
    top of two map-side-dominant stages."""
    decon = doc_decontamination(spark, sf_dir)
    samp = doc_stratified_sample(spark, sf_dir)
    return decon.join(samp, "doc_id", "full_outer").orderBy("doc_id")
