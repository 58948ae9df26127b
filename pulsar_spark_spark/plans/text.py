"""LLM-training-data text pipeline over the ``documents`` table.

The four brief components as registered, oracle-checked queries:

- **Exact dedup** (``doc_exact_dup_groups``): 60-bit md5 fingerprint
  of the sorted distinct token set → hash groupBy. The fingerprint is
  order-insensitive, so shuffled copies of a document collapse.
- **Near dedup** (``doc_near_dup_pairs``): char-8-shingle MinHash
  (16 hashes) → banded LSH (4 bands × 4 rows) → candidate pairs via a
  join on exploded band keys → exact Jaccard verify ≥ 0.8. This is
  the bucketed, never-all-pairs shape: at 100 TB the only shuffle is
  on band keys, candidates are a tiny fraction of n², and the exact
  verify touches candidates only.
- **SimHash buckets** (``doc_simhash_buckets``): 16-bit SimHash over
  tokens; identical-hash buckets are near-dup candidates — a single
  groupBy, the cheapest near-dup prefilter.
- **Language ID** (``doc_language_id``): marker-lexicon hit counts,
  argmax with a fixed tie order — confusion counts vs the labeled
  ``lang`` column.
- **Quality scoring + token counting** (``doc_quality_stats``):
  per-source aggregate of length/stopword/punctuation/uppercase
  features plus the corpus token budget (whitespace tokens + a BPE-ish
  regex count — letter runs / digits / punctuation) in one pass.

Every hash uses the md5 scheme from ``functions/text.py`` so DuckDB
reproduces Spark bit-for-bit (no dependence on Spark-internal murmur
seeds); that is what makes these oracle-checkable.

Reference lineage: the tokenizer generalizes the address tokenizer at
spark-jobs service/SmartAddressBuildService.scala:135-153; md5 keying
mirrors utils/Utility.scala:145-150 (addr_hash). Everything beyond
that is the training-data extension surface the brief asks for.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import col

from pulsar_spark_spark.functions.text import (
    LANG_MARKERS,
    MINHASH_P,
    char_shingles_of_clean,
    clean_text,
    fingerprint64,
    lang_id,
    lsh_bands,
    md5_i64,
    minhash_signature_from_hashes,
    quality_features,
    shingle_hashes,
    simhash16_from_hashes,
    tokens,
    winnow_minima,
)
from pulsar_spark_spark.operators.checkpoint import (
    broadcast_if_bounded,
    materialize,
)
from pulsar_spark_spark.plans.registry import query
from pulsar_spark_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------
# DuckDB oracle SQL fragments mirroring functions/text.py exactly.
# ---------------------------------------------------------------------

# tokens(text): lowercase → strip [^a-z ] → split on runs of spaces →
# drop empties.  (functions/text.py clean_text + tokens)
_SQL_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(lower(text), "
    "'[^a-z ]', '', 'g')), ' +'), x -> x != '')"
)
# cleaned text for char shingles
_SQL_CLEAN = "regexp_replace(lower(text), '[^a-z ]', '', 'g')"


def _sql_md5_i64(expr: str) -> str:
    """DuckDB equivalent of functions.text.md5_i64 (60-bit md5 int)."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _sql_shingles(k: int = 5) -> str:
    """DuckDB char-k shingles of the cleaned text (list<varchar>)."""
    return (
        f"list_transform(range(1, greatest(length({_SQL_CLEAN}) - {k - 1}, 0) + 1), "
        f"i -> substr({_SQL_CLEAN}, i::INTEGER, {k}))"
    )


# ---------------------------------------------------------------------
# exact dedup: fingerprint groupBy
# ---------------------------------------------------------------------
_SQL_FP = _sql_md5_i64(
    f"array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')"
)


@query(
    "doc_exact_dup_groups",
    oracle=f"""
        SELECT
            fingerprint,
            count(*)                                        AS n_docs,
            string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
        FROM (SELECT doc_id, {_SQL_FP} AS fingerprint FROM documents)
        GROUP BY fingerprint
        HAVING count(*) > 1
        ORDER BY fingerprint
    """,
)
def doc_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of exactly-duplicate documents by token-set fingerprint.

    Scale shape: one md5 per document (map-side), one hash aggregate on
    a 60-bit key — the canonical exact-dedup plan at any scale. The
    fingerprint ignores token order and multiplicity, so reshuffled
    copies dedupe together (stricter raw-text md5 is a trivial variant).
    """
    docs = load_table(spark, "documents", sf_dir)
    ids_str = F.array_join(
        F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
        ",",
    )
    return (
        docs.select(col("doc_id"), fingerprint64(col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), ids_str.alias("doc_ids"))
        .filter(col("n_docs") > 1)
        .orderBy("fingerprint")
    )


# ---------------------------------------------------------------------
# near dedup: MinHash + banded LSH + exact-Jaccard verify
# ---------------------------------------------------------------------
_SHINGLE_K = 8  # long shingles span word boundaries → random-pair
# similarity collapses on small-vocab corpora, keeping LSH candidate
# sets near the true-pair set instead of ~20% of all pairs
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = 4
_JACCARD_MIN = 0.8
# Skew guard on the band self-join: a band bucket holding more than
# _BAND_CAP DISTINCT texts is boilerplate (a bucket of k near-identical
# headers generates k²/2 candidates), so it is dropped from candidate
# generation — the same df-cap discipline as winnowing's hot-gram cap.
# Exact duplicates never trip the cap: identical cleaned texts are
# collapsed to ONE representative before banding, so a million-copy
# page contributes one banded row and fans its pairs back out at the
# end. Fixture band buckets max out at 5 reps (sf0.1), so 64 changes
# nothing at test scale; at crawl scale it bounds per-bucket work at
# CAP²/2 candidates.
#
# KNOWN RECALL TRADE (all-bands-hot): a cluster of more than _BAND_CAP
# NEAR-identical — but not exactly-duplicate — texts shares all
# _N_BANDS bands, so every one of its buckets trips the cap in every
# band and the whole true cluster is dropped from candidate
# generation; the "a true pair can still surface via its other bands"
# escape does NOT hold for that shape. This is the cap doing its job
# (such mega-clusters are overwhelmingly boilerplate templates whose
# k²/2 candidates would dominate the run), but it is a deliberate
# recall sacrifice, and because the oracle mirrors the cap, parity
# tests cannot see it — use hot_bucket_stats() to OBSERVE what a cap
# setting drops on real data before trusting it, and raise the cap
# (or pre-strip the template text) when those buckets matter.
_BAND_CAP = 64

# ---------------------------------------------------------------------
# corpus-adaptive banding plan (round 9)
# ---------------------------------------------------------------------
# A FIXED (hashes, bands, rows-per-band) MinHash-LSH config has a
# constant false-candidate probability per DOCUMENT PAIR — ≈ b·J_bg^r
# at the corpus's background (non-duplicate) similarity J_bg — so the
# candidate count grows with the SQUARE of the corpus while every
# other stage of the pipeline is linear. Measured on the scale ladder
# (tools/profile_neardup.py, word-shuffled replica corpus, background
# char-8-shingle J ≈ 0.04–0.09): the (16, 4, 4) floor generated
# 1.58 M candidates from 500 k docs at 100× of which only 252
# survived the exact verify — essentially every candidate false — and
# the 1000× point ran ×26 wall for ×10 data on the candidate joins.
#
# Fix: the same discipline as auto_emb_bits (plans/similarity.py) —
# grow the plan with the corpus, FLOORED at the config the DuckDB
# oracles mirror, so every oracle-gate corpus (sf0.001/0.01/0.1, all
# ≤ 5 k docs) resolves to exactly the committed fixed-width plan.
# Ladder: pick the smallest plan whose expected false-candidate count
# n²/2 · b·J_bg^r stays ≤ the corpus size n (candidates linear in the
# corpus), i.e. n ≤ 2/(b·J_bg^r), at a conservative J_bg = 0.1:
#
#   plan (hashes, b, r)   n budget     banding recall at J=0.8
#   (16,  4,  4)             5.0e3     0.88   (the oracle floor)
#   (60, 10,  6)             2.0e5     0.95
#   (96, 12,  8)             1.7e7     0.89
#   (160, 16, 10)            1.25e9    0.84
#   (240, 20, 12)            1.0e11    0.76   (0.9997 at J=0.9)
#   (288, 24, 12)            8.3e10    0.82   (recall_boost arm)
#
# Recall = 1-(1-J^r)^b is the BANDING hit rate for a true pair at the
# verify floor; precision is always 1 (the exact-Jaccard verify).
# Pairs at J ≥ 0.9 stay ≥ 0.97 on every tier (the top tier's J=0.8
# recall is the honest trade for holding the FP budget at 10¹¹ docs).
# Corpora past 1.25e9 docs where the 0.8-band matters opt into the
# ``recall_boost`` top tier instead: 4 more bands at the same r buys
# J=0.8 recall 0.76 → 0.82 for +20% banding compute and a 24/20 FP
# budget haircut (still ~8e10 docs) — the b-boost caveat the ladder
# always documented, now a knob (auto_band_plan(recall_boost=True),
# reachable through the query API as plan="auto_boost").
# Exact duplicates never depend on banding at all (the collapse +
# (rep, rep) self-candidate arm). The floor tier is deliberately held
# through 20 k docs — past its own 5 k budget point — so the sf0.1
# bench corpus keeps the committed plan; the cost is a bounded
# ~4×-of-n candidate overhang at 20 k, paid in narrow int rows.
# More hashes cost one extra integer array-transform per
# permutation per doc (the md5 per shingle is paid ONCE regardless,
# in shingle_hashes) — linear, trivially parallel; at 100× the
# round-9 re-measure showed the bigger plan repaying that within the
# same query.
BAND_PLANS: list[tuple[int, tuple[int, int, int]]] = [
    (20_000, (_N_HASHES, _N_BANDS, _ROWS_PER_BAND)),
    (200_000, (60, 10, 6)),
    (16_700_000, (96, 12, 8)),
    (1_250_000_000, (160, 16, 10)),
]
_TOP_PLAN = (240, 20, 12)
_TOP_PLAN_BOOSTED = (288, 24, 12)


def auto_band_plan(
    n_docs: int, recall_boost: bool = False
) -> tuple[int, int, int]:
    """Smallest (n_hashes, n_bands, rows_per_band) whose expected
    false-candidate count stays linear in a corpus of ``n_docs``
    documents (derivation in the ladder comment above).

    ``recall_boost=True`` swaps the TOP tier (corpora past the
    1.25e9-doc ladder) for the b-boosted (288, 24, 12) plan — J=0.8
    banding recall 0.82 instead of 0.76 at +20% banding compute; the
    ladder tiers themselves are unchanged (their recalls already sit
    at 0.84-0.95, and changing them would move the oracle-mirrored
    floor discipline for no benefit)."""
    for bound, plan in BAND_PLANS:
        if n_docs <= bound:
            return plan
    return _TOP_PLAN_BOOSTED if recall_boost else _TOP_PLAN


_DOCS_ROWS_MEMO: dict = {}


def _docs_rows(docs: DataFrame, count_fallback: bool = True) -> "int | None":
    """Corpus row count from the parquet FOOTERS of the input fileset
    (zero Spark jobs), memoized per (path, size, mtime) fingerprint.
    ``None`` for in-memory relations (no input files). Falls back to
    one counted scan for non-local/non-parquet sources —
    ``count_fallback=False`` returns ``None`` instead (unmemoized, so
    a later counting caller still resolves): callers who only need
    the count to pick a knob they could default safely (e.g.
    ``pruned_grams``'s spread when the engine is already pinned)
    must not pay a full scan for it (round-13 ADVICE low)."""
    from pulsar_spark_spark.plans.similarity import _files_stat_key

    files = docs.inputFiles()
    if not files:
        return None
    key = _files_stat_key(files)
    if key in _DOCS_ROWS_MEMO:
        return _DOCS_ROWS_MEMO[key]
    import pyarrow.parquet as pq

    n = 0
    for p in files:
        local = p[5:] if p.startswith("file:") else p
        try:
            n += pq.ParquetFile(local).metadata.num_rows
        except (OSError, ValueError):
            # non-local / non-parquet source (pq raises ArrowInvalid —
            # a ValueError — on e.g. a CSV/JSON input file): fall back
            # to one counted scan rather than guessing
            if not count_fallback:
                return None
            n = docs.count()
            break
    _DOCS_ROWS_MEMO[key] = n
    return n


def resolve_band_plan(
    docs: DataFrame, plan: "tuple[int, int, int] | str | None"
) -> tuple[int, int, int]:
    """``plan="auto"`` → :func:`auto_band_plan` over the corpus row
    count, read from the parquet FOOTERS of the input fileset (zero
    Spark jobs — the ensure_*_index discipline from round 9) and
    memoized per (path, size, mtime) so repeated calls and bench
    min-of-N passes never re-stat. In-memory relations (no input
    files — unit-test fixtures, constructed DataFrames) resolve to
    the floor plan: they are small by construction and keeping them
    pinned to the oracle config keeps every existing parity test
    byte-stable. ``plan="auto_boost"`` resolves the same ladder with
    the boosted top tier (``auto_band_plan(recall_boost=True)``) —
    without this spelling the documented knob was unreachable through
    the query API, which only threads a plan string/tuple. Explicit
    3-tuples pass through after a b·r == hashes sanity check. Row
    count over-counts UNIQUE texts (the collapse runs later), which
    only over-provisions the plan — safe."""
    if plan is None or plan in ("auto", "auto_boost"):
        n = _docs_rows(docs)
        if n is None:
            return BAND_PLANS[0][1]
        return auto_band_plan(n, recall_boost=plan == "auto_boost")
    if isinstance(plan, str):
        raise ValueError(
            f"band plan {plan!r}: accepted values are 'auto', "
            "'auto_boost', None, or an explicit (n_hashes, n_bands, "
            "rows_per_band) 3-tuple"
        )
    n_hashes, n_bands, rows = plan
    if n_bands * rows != n_hashes:
        raise ValueError(
            f"band plan {plan!r}: n_bands*rows_per_band must equal n_hashes"
        )
    return plan


def _near_dup_oracle(band_cap: int = _BAND_CAP) -> str:
    from pulsar_spark_spark.functions.text import MINHASH_P, _mh_constants

    sigs = [
        f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {MINHASH_P}))"
        for a, b in (_mh_constants(i) for i in range(_N_HASHES))
    ]
    band_exprs = ", ".join(
        f"'{b}:' || md5(array_to_string(sig[{b * _ROWS_PER_BAND + 1}:"
        f"{(b + 1) * _ROWS_PER_BAND}], ','))"
        for b in range(_N_BANDS)
    )
    jac = (
        "len(list_intersect(sa.hv, sb.hv))::DOUBLE"
        " / len(list_distinct(list_concat(sa.hv, sb.hv)))"
    )
    return f"""
        WITH keyed AS (
            SELECT doc_id, md5({_SQL_CLEAN}) AS ckey FROM documents
        ), grp AS (
            SELECT ckey, min(doc_id) AS rep, count(*) AS grp_n
            FROM keyed GROUP BY ckey
        ), sh AS (
            SELECT g.ckey, g.rep, g.grp_n,
                   list_distinct(list_transform(
                       {_sql_shingles(_SHINGLE_K)},
                       s -> {_sql_md5_i64('s')} % {MINHASH_P})) AS hv
            FROM grp g JOIN documents d ON d.doc_id = g.rep
        ), sig AS (
            SELECT rep, [{', '.join(sigs)}] AS sig
            FROM sh
        ), banded AS (
            SELECT rep, unnest([{band_exprs}]) AS band_key FROM sig
        ), capped AS (
            SELECT rep, band_key FROM banded
            QUALIFY count(*) OVER (PARTITION BY band_key) <= {band_cap}
        ), cand AS (
            SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
            FROM capped a JOIN capped b
              ON a.band_key = b.band_key AND a.rep < b.rep
            UNION ALL
            SELECT rep, rep FROM sh WHERE grp_n > 1
        ), verified AS (
            SELECT sa.ckey AS ckey_a, sb.ckey AS ckey_b,
                   c.rep_a, c.rep_b, {jac} AS j
            FROM cand c
            JOIN sh sa ON sa.rep = c.rep_a
            JOIN sh sb ON sb.rep = c.rep_b
            WHERE {jac} >= {_JACCARD_MIN}
        )
        SELECT least(ma.doc_id, mb.doc_id)    AS doc_a,
               greatest(ma.doc_id, mb.doc_id) AS doc_b,
               round(v.j, 4)                  AS jaccard
        FROM verified v
        JOIN keyed ma ON ma.ckey = v.ckey_a
        JOIN keyed mb ON mb.ckey = v.ckey_b
        WHERE v.rep_a <> v.rep_b OR ma.doc_id < mb.doc_id
        ORDER BY doc_a, doc_b
    """


def cap_hot_buckets(banded: DataFrame, keys: list, cap: int) -> DataFrame:
    """Drop rows of ``banded`` whose bucket (the ``keys`` tuple) holds
    more than ``cap`` rows — the boilerplate guard shared by the text
    band cap and the embedding (table, bucket) cap.

    A count window over the bucket key, not a count aggregate
    anti-joined back: the window's shuffle pre-partitions the
    following self-join. Round-8 interleaved A/B (min-of-2, sf0.1 and
    10x): the window won doc_near_dup_pairs by 41%/22%,
    doc_dedup_clusters by 13%/4% and embedding_near_dup_pairs by 10%
    at 10x."""
    return (
        banded.withColumn(
            "bn", F.count(F.lit(1)).over(Window.partitionBy(*keys))
        )
        .filter(col("bn") <= cap)
        .drop("bn")
    )


def hot_bucket_stats(banded: DataFrame, keys: list, cap: int) -> DataFrame:
    """Observability twin of :func:`cap_hot_buckets`: one row per
    OVER-cap bucket — (keys…, n_rows) — so an operator can see what a
    cap setting silently drops (the all-bands-hot recall trade
    documented at ``_BAND_CAP``) before trusting it on a new corpus.
    Run it as its own action; it shares no state with the capped
    pipeline."""
    return (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(col("n_rows") > cap)
        .orderBy(col("n_rows").desc(), *keys)
    )


def near_dup_pairs(
    docs: DataFrame,
    band_cap: int = _BAND_CAP,
    plan: "tuple[int, int, int] | str | None" = "auto",
) -> DataFrame:
    """Near-duplicate pairs: exact-text collapse → MinHash → capped LSH
    bands → exact-Jaccard verify → fan out to member pairs.

    The 100 TB shape, with BOTH skew guards a dirty crawl needs:

    1. **Exact-duplicate collapse.** Identical cleaned texts share
       every band by construction, so a k-copy page would put k rows
       in the same band bucket and make the band self-join emit k²/2
       candidate rows *through the shuffle*. Instead, docs are grouped
       by md5(cleaned text) first and ONE representative per group is
       shingled/banded; verified pairs fan back out to members at the
       very end (within-group pairs go through the same Jaccard verify
       via a (rep, rep) self-candidate, so their jaccard value is
       computed by the identical expression, not assumed 1.0). The
       expensive work (per-shingle md5, signatures, banding, rerank)
       is paid once per UNIQUE text.
    2. **Band-bucket cap.** Among distinct texts, a band bucket with
       more than ``band_cap`` reps is boilerplate (shared headers /
       templates) whose candidates are almost all false positives;
       such buckets are dropped before the self-join — bounded
       per-bucket work, the same discipline as winnowing's hot-gram
       df cap. Any true pair in a dropped bucket can still surface
       via its other ``_N_BANDS - 1`` bands.

    After the guards, the ONLY join keys are the text hash and the
    band hash (4 bands × 4 rows over 16 minhashes — candidate prob
    ≈ 0.99 at J=0.9, ≈ 0.88 at J=0.8), so work is O(candidates) in
    unique texts, never O(n²) in documents. Everything is md5-based,
    hence bit-identical in the oracle (which mirrors the collapse,
    cap, and fan-out step for step).
    """
    keyed, rel, verified = verified_rep_pairs(docs, band_cap, plan)
    ma = keyed.select(col("ckey").alias("ckey_a"), col("doc_id").alias("m_a"))
    mb = keyed.select(col("ckey").alias("ckey_b"), col("doc_id").alias("m_b"))
    # verified is candidate-sized (tiny vs the corpus) — broadcast it
    # so the fan-out never shuffles the membership relation; guarded
    # by row count (it is data-dependent and unbounded on a
    # near-dup-dense corpus — past the bound a shuffle join is right)
    return (
        ma.join(broadcast_if_bounded(verified), "ckey_a")
        .join(mb, "ckey_b")
        .filter((col("rep_a") != col("rep_b")) | (col("m_a") < col("m_b")))
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )


def _splitmix64(acc, v):
    """One splitmix64 mixing round over uint64 numpy vectors — the
    band-key hash for the adaptive tiers (opaque join keys: only the
    partition they induce matters, not the bytes)."""
    import numpy as np

    acc = acc ^ v
    acc = (acc + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    acc = (acc ^ (acc >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    acc = (acc ^ (acc >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return acc ^ (acc >> np.uint64(31))


def _band_matrix(sig_t, n_bands, rows_per_band):
    """(n_bands × n_rows) uint64 band keys from the signature matrix:
    splitmix64 fold of each band's signature slice, seeded by the band
    index so identical slices in different bands cannot collide."""
    import numpy as np

    n_rows = sig_t.shape[1]
    su = sig_t.view(np.uint64)
    bands = np.empty((n_bands, n_rows), dtype=np.uint64)
    for b in range(n_bands):
        acc = _splitmix64(np.full(n_rows, np.uint64(b)), su[b * rows_per_band])
        for j in range(1, rows_per_band):
            acc = _splitmix64(acc, su[b * rows_per_band + j])
        bands[b] = acc
    return bands


def _mh_sig_matrix(flat, red, consts, n_rows, chunk=1 << 16):
    """Shared numpy MinHash kernel: (n_hashes × n_rows) int64 matrix of
    per-permutation minima over the segmented ``flat`` hash values.
    Exact ``(a·h+b) mod P`` arithmetic with P = 2³¹−1 via two Mersenne
    bit-folds (2³¹ ≡ 1 mod P ⇒ x = hi·2³¹ + lo ≡ hi + lo) and one
    conditional subtract — no modulo instruction.

    ``red`` is the TRUE sorted segment-start offset per row
    (``off[:-1]`` — an empty row's start equals the next row's).
    Round-10 contract fix: the round-9 callers zeroed empty rows'
    offsets "to keep reduceat in-bounds", which CORRUPTED the
    reduceat pair of any non-empty row immediately followed by an
    empty row in the same batch (pair (s, 0) degenerates to the
    singleton ``buf[s]``, so that row's signature became its FIRST
    gram's value, not the min) — invisible in the pinned parity tests
    only because tiny test DataFrames arrive one row per Arrow batch.
    With true offsets every non-empty row is exact; empty rows
    (including trailing ones, handled by reducing only rows that
    start before ``len(flat)``) still yield garbage-or-sentinel that
    callers mask, as before.

    Round-10 layout: chunk-outer / permutation-inner over doc-aligned
    chunks (~2^16 hashes ≈ 0.5 MB, cache-resident). The round-9 shape
    swept the whole flat array once per permutation — 8 full-array
    passes × n_hashes of DRAM traffic; keeping a chunk hot across all
    permutations measured 1.9× on the 96-hash tier kernel with
    bit-identical output.
    """
    import numpy as np

    from pulsar_spark_spark.functions.text import MINHASH_P as M

    sig_t = np.full((len(consts), n_rows), M, dtype=np.int64)
    n = len(flat)
    if not n:
        return sig_t
    a_arr = [a for a, _ in consts]
    b_arr = [b for _, b in consts]
    # rows whose segment starts at n are trailing empties — leave M
    d_end = int(np.searchsorted(red, n, side="left"))
    red_t = red[:d_end]
    if not len(red_t):
        return sig_t
    cuts = [0]
    while cuts[-1] < n:
        pos = cuts[-1]
        target = pos + chunk
        if target >= n:
            cuts.append(n)
            break
        di = int(np.searchsorted(red_t, target, side="right")) - 1
        nxt = int(red_t[di])
        if nxt <= pos:  # one giant row spans the chunk: cut after it
            j = int(np.searchsorted(red_t, pos, side="right"))
            nxt = int(red_t[j]) if j < len(red_t) else n
        cuts.append(nxt)
    for ci in range(len(cuts) - 1):
        lo, hi = cuts[ci], cuts[ci + 1]
        if hi <= lo:
            continue
        c = flat[lo:hi]
        dlo = int(np.searchsorted(red_t, lo, side="left"))
        dhi = int(np.searchsorted(red_t, hi, side="left"))
        if dhi <= dlo:
            continue
        seg = red_t[dlo:dhi] - lo
        bb = np.empty_like(c)
        tt = np.empty_like(c)
        for i in range(len(consts)):
            np.multiply(c, a_arr[i], out=bb)
            np.add(bb, b_arr[i], out=bb)
            np.right_shift(bb, 31, out=tt)
            np.bitwise_and(bb, M, out=bb)
            np.add(bb, tt, out=bb)
            np.right_shift(bb, 31, out=tt)
            np.bitwise_and(bb, M, out=bb)
            np.add(bb, tt, out=bb)
            # bb ≤ P+1 here; one conditional subtract finishes the mod
            np.subtract(bb, M, out=tt)
            np.copyto(bb, tt, where=tt >= 0)
            np.minimum(
                sig_t[i, dlo:dhi],
                np.minimum.reduceat(bb, seg),
                out=sig_t[i, dlo:dhi],
            )
    return sig_t


def _text_bands_arrow(
    rel: DataFrame, n_hashes: int, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(rep, n, bands) straight from CLEANED TEXT in ONE vectorized
    Arrow pass — the adaptive-tier banding stage.

    Everything between the collapsed text and the band keys stays
    inside the numpy worker: byte-level rolling-hash char-K-grams
    (8 shifted multiply-adds over the flat utf8 buffer), per-row
    distinct via one packed (row << 31 | hash) sort, the shared
    MinHash kernel (:func:`_mh_sig_matrix`, bit-identical to the
    expression form, pinned in pytest), and splitmix64 band keys.
    Compared to computing md5 shingle hashes JVM-side and shipping
    the ~2.3 kB/row hash arrays through Arrow, this ships ~300 B/row
    of text and no hash arrays at all — measured round 9 as the
    difference between ~1 ms and ~0.3 ms of single-core CPU per
    document for the whole signature stage.

    Tier-only semantics notes (tier plans are oracle-invisible —
    every gate corpus resolves to the floor): the BANDING similarity
    estimate uses rolling-hash byte-grams rather than the floor's
    md5 char-gram hashes — an equally uniform family, so banding
    recall math is unchanged, and the exact-Jaccard VERIFY stays on
    the floor's md5 family (the verify recomputes hashes for
    candidate reps), so emitted pair values are identical to the
    floor's for any candidate set. On multi-byte UTF-8 text,
    byte-K-grams are a slightly finer shingle than char-K-grams —
    a banding-side approximation only. Band keys are opaque join
    keys: only the partition they induce matters. Rows shorter than
    K chars produce zero grams and share all band keys (then drop at
    the NULL-Jaccard verify), like the floor's md5-of-empty keys.
    """
    from pulsar_spark_spark.functions.text import MINHASH_P, _mh_constants

    consts = [_mh_constants(i) for i in range(n_hashes)]
    K = _SHINGLE_K

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        M = MINHASH_P
        # odd 64-bit multiplier (FNV prime); wrap-around mod 2^64
        pows = np.array(
            [pow(1099511628211, j, 1 << 64) for j in range(K)], dtype=np.uint64
        )
        for batch in batches:
            rep = batch.column("rep")
            txt = batch.column("ctext")
            if isinstance(txt, pa.ChunkedArray):
                txt = txt.combine_chunks()
            n_rows = len(txt)
            if n_rows == 0:
                continue
            # StringArray exposes offsets only through its raw buffers
            # (int32 for string, int64 for large_string), positioned
            # at the array's slice offset
            off_dtype = (
                np.int64 if pa.types.is_large_string(txt.type) else np.int32
            )
            off = np.frombuffer(txt.buffers()[1], dtype=off_dtype)[
                txt.offset : txt.offset + n_rows + 1
            ].astype(np.int64)
            dbuf = txt.buffers()[2]
            # an all-null/all-empty batch may carry no data buffer at
            # all — treat it as zero bytes, not a frombuffer(None) crash
            data = (
                np.frombuffer(dbuf, dtype=np.uint8)
                if dbuf is not None
                else np.empty(0, np.uint8)
            )
            flat = data[off[0] : off[-1]]
            off = off - off[0]
            lens = off[1:] - off[:-1]
            g_counts = np.maximum(lens - (K - 1), 0)
            if txt.null_count:
                # mask null slots explicitly (the spec leaves their
                # offsets undefined-but-monotonic): a null text emits
                # zero grams → all-sentinel signature → dropped at the
                # NULL-Jaccard verify, matching the floor's md5(NULL)
                # behavior — pinned in tests/test_near_dup_tiers.py
                g_counts = np.where(
                    np.asarray(txt.is_valid()), g_counts, 0
                )
            total = int(g_counts.sum())
            if total == 0:
                hs = np.empty(0, np.int64)
                new_off = np.zeros(n_rows + 1, np.int64)
                n_col = np.zeros(n_rows, np.int64)
            else:
                u = flat.astype(np.uint64)
                L = len(u) - (K - 1)
                acc = np.zeros(L, dtype=np.uint64)
                for j in range(K):
                    acc += u[j : L + j] * pows[j]
                starts = np.repeat(off[:-1], g_counts)
                within = np.arange(total) - np.repeat(
                    np.cumsum(g_counts) - g_counts, g_counts
                )
                h = acc[starts + within]
                # three Mersenne folds bring a 64-bit value into
                # [0, P]; conditional subtract finishes mod P
                for _ in range(3):
                    h = (h & np.uint64(M)) + (h >> np.uint64(31))
                h = np.where(h >= M, h - M, h)
                # per-row distinct: hashes fit in 31 bits, so pack
                # (row << 31 | hash) and single-sort
                rows = np.repeat(np.arange(n_rows, dtype=np.uint64), g_counts)
                packed = np.sort((rows << np.uint64(31)) | h)
                keep = np.ones(total, bool)
                keep[1:] = packed[1:] != packed[:-1]
                packed = packed[keep]
                hs = (packed & np.uint64(M)).astype(np.int64)
                n_col = np.bincount(
                    (packed >> np.uint64(31)).astype(np.int64),
                    minlength=n_rows,
                ).astype(np.int64)
                new_off = np.zeros(n_rows + 1, np.int64)
                np.cumsum(n_col, out=new_off[1:])
            empty = n_col == 0
            # TRUE segment starts (see _mh_sig_matrix's round-10
            # contract note — zeroed empty offsets corrupted the
            # preceding row's signature)
            sig_t = _mh_sig_matrix(hs, new_off[:-1], consts, n_rows)
            if empty.any():
                sig_t[:, empty] = M
            bands = _band_matrix(sig_t, n_bands, rows_per_band)
            band_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n_rows + 1) * n_bands, n_bands),
                    type=pa.int32(),
                ),
                pa.array(bands.T.ravel().view(np.int64)),
            )
            yield pa.RecordBatch.from_arrays(
                [rep, pa.array(n_col.astype(np.int32)), band_arr],
                ["rep", "n", "bands"],
            )

    return rel.select("rep", "ctext").mapInArrow(
        fn, "rep bigint, n int, bands array<bigint>"
    )


def near_dup_candidates(
    docs: DataFrame,
    band_cap: int = _BAND_CAP,
    plan: "tuple[int, int, int] | str | None" = "auto",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Candidate-generation stage of :func:`near_dup_pairs`, exposed so
    the skew guards are testable in isolation.

    Returns ``(keyed, rel, cand)``: the doc→text-group mapping, the
    per-unique-text relation, and the candidate REP pairs
    (rep_a, rep_b) after exact-dup collapse and the band-bucket cap —
    ``|cand|`` is the quantity the guards bound.

    ``plan`` is the (n_hashes, n_bands, rows_per_band) banding config:
    ``"auto"`` (default) sizes it to the corpus via
    :func:`auto_band_plan` — floored at the oracle config — so the
    false-candidate count stays linear in the corpus instead of
    quadratic (the ladder comment at :data:`BAND_PLANS`).

    The middle relation's SHAPE is tier-dependent (both carry
    (ckey, rep, grp_n) for the fan-out/cluster consumers):

    - **floor** (every oracle-gate and bench corpus): the committed
      round-7/8 shape — (…, hv) with the md5 shingle hashes
      checkpointed once and reused by the signature stage and the
      verify, md5-string band keys, size-ratio prefilter downstream.
      Cheapest at fixture scale (few stages, hv paid exactly once)
      and the plan whose banding the DuckDB oracles mirror.
    - **adaptive tiers**: a NARROW (…, ctext) checkpoint instead —
      at 1000× the hv relation is ~11.5 GB vs ~1.5 GB of text — with
      the whole signature/banding stage fused into one vectorized
      Arrow pass (:func:`_text_bands_arrow`), the size-ratio
      prefilter inside the band self-join, and hv recomputed later
      for CANDIDATE reps only (candidate-sized).
    """
    n_hashes, n_bands, rows_per_band = resolve_band_plan(docs, plan)
    spark = docs.sparkSession
    # Round 15 measured AGAINST a spread_scan here (knob A/B, 4
    # interleaved rounds, one JVM): the keyed/reps derivations are a
    # light clean_text+md5 over FAT text rows, so round-robining the
    # raw docs twice costs more than the single-partition derivation
    # it parallelizes (near_dup 3.05 vs 3.30 s, dedup 3.77 vs 3.96 s,
    # off-arm winning every round) — the heavy shingle stage already
    # has its own keyed respread below.
    # doc → text-group membership, for the final fan-out. Narrow
    # (doc_id, ckey) relation consumed by both fan-out sides —
    # materialized so the corpus text is not re-scanned/re-hashed per
    # consumer.
    keyed = (
        docs.select(col("doc_id"), F.md5(clean_text(col("text"))).alias("ckey"))
        .transform(materialize)
    )
    # ONE text shuffle total (same count as the unguarded pipeline's
    # doc_id spread, now keyed by ckey so copies co-locate), and it is
    # an AGGREGATE, not a window: min_by/min/count all combine
    # map-side, so a million-copy page ships one partial row per map
    # task instead of a million rows into one sorted partition — the
    # skew-safe shape for the collapse itself. min_by keeps the min-id
    # member's text (any member's would do — identical cleaned text —
    # but min_by keeps the plan deterministic).
    # The explicit respread matters: AQE coalesces the small post-agg
    # shuffle output to very few partitions, which would serialize the
    # expensive md5-per-shingle projection below.
    n_spread = spark.sparkContext.defaultParallelism * 2
    # Carry the CLEANED text through the collapse (clean_text is
    # idempotent, so shingles of ctext ≡ shingles of text): the shingle
    # stage below then reads a bound aggregate-output attribute, which
    # the per-element-re-evaluation trap in char_shingles_of_clean's
    # docstring cannot reach — cleaning inline inside the shingle
    # lambda measured 3.9× the stage wall at 100× data.
    reps = (
        docs.select(
            col("doc_id"),
            clean_text(col("text")).alias("ctext"),
            F.md5(clean_text(col("text"))).alias("ckey"),
        )
        .groupBy("ckey")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("grp_n"),
            F.min_by("ctext", "doc_id").alias("ctext"),
        )
    )
    if n_hashes > _N_HASHES:
        # ---- adaptive tiers: narrow checkpoint + fused Arrow stage.
        # The respread sizes the ARROW stage (session.arrow_stage_width
        # — cores/2 concurrent tasks on local so the Python workers
        # get cores, full spread on clusters); the checkpoint pins
        # that width for the banding pass, and the verify's JVM hv
        # recompute explicitly respreads back to full width below.
        from pulsar_spark_spark.session import arrow_stage_width

        rel = (
            reps.repartition(arrow_stage_width(spark), col("doc_id"))
            .select("ckey", col("doc_id").alias("rep"), "grp_n", "ctext")
            .transform(materialize)
        )
        sigb = _text_bands_arrow(rel, n_hashes, n_bands, rows_per_band)
        banded = sigb.select("rep", "n", F.explode("bands").alias("band_key"))
        capped = cap_hot_buckets(banded, ["band_key"], band_cap)
        a = capped.alias("a")
        b = capped.alias("b")
        # size-ratio prefilter INSIDE the self-join:
        # J ≤ min(|A|,|B|)/max(|A|,|B|), so size-mismatched pairs are
        # doomed. The counts here are distinct ROLLING-hash grams while
        # the verify's Jaccard uses the md5 family — cross-family
        # 31-bit collision drift shifts a distinct count by ~n²/2³²
        # expected — so the threshold is relaxed by a count-scaled
        # slack (≥4× the expected two-sided drift) and the exact
        # md5-family verify downstream re-filters precisely: no pair
        # the floor semantics would keep is dropped, extra candidates
        # cost only verify work.
        big = F.greatest(col("a.n"), col("b.n")).cast("bigint")
        slack = F.lit(2) + F.shiftright(big * big, 30)
        cross = (
            a.join(
                b,
                (col("a.band_key") == col("b.band_key"))
                & (col("a.rep") < col("b.rep"))
                & (
                    (F.least(col("a.n"), col("b.n")) + slack).cast("double")
                    >= (big - slack) * F.lit(_JACCARD_MIN)
                ),
            )
            .select(col("a.rep").alias("rep_a"), col("b.rep").alias("rep_b"))
            .distinct()
        )
        self_cand = rel.filter(col("grp_n") > 1).select(
            col("rep").alias("rep_a"), col("rep").alias("rep_b")
        )
        return keyed, rel, cross.unionByName(self_cand)
    # ---- floor: the committed shape. The md5 is paid ONCE per
    # shingle here (shingle_hashes) — Spark does not CSE through
    # higher-order lambdas, so hashing inside each of the 16
    # permutations would cost 16×. The hashed relation then feeds
    # four consumers (signature, both sides of the Jaccard rerank,
    # the self-candidate arm) — materialize it once via a LAZY
    # localCheckpoint rather than .cache(): a catalog cache is pinned
    # until someone calls unpersist (which a query that returns a
    # lazy plan can never do), while checkpoint blocks are reclaimed
    # by the ContextCleaner as soon as the plan is garbage-collected.
    # Caveat at cluster scale: localCheckpoint blocks are not
    # recomputable on executor loss — acceptable for a single-query
    # scratch relation.
    sh = (
        reps.repartition(n_spread, col("doc_id"))
        .select(
            "ckey",
            col("doc_id").alias("rep"),
            "grp_n",
            shingle_hashes(char_shingles_of_clean(col("ctext"), _SHINGLE_K)).alias(
                "hv"
            ),
        )
        .transform(materialize)
    )
    # "hv"/"sig" as SQL fragments: one JVM parse per builder instead of
    # ~6 py4j round-trips per permutation/band (profiled 0.44 s of
    # driver time per plan build at the floor's 16 hashes — round 15)
    sig = sh.select(
        "rep",
        minhash_signature_from_hashes("hv", n_hashes).alias("sig"),
    )
    banded = sig.select(
        "rep",
        F.explode(lsh_bands("sig", n_bands, rows_per_band)).alias("band_key"),
    )
    # Hot-bucket cap (see cap_hot_buckets for the window-vs-agg trade)
    capped = cap_hot_buckets(banded, ["band_key"], band_cap)
    a = capped.alias("a")
    b = capped.alias("b")
    cross = (
        a.join(
            b,
            (col("a.band_key") == col("b.band_key"))
            & (col("a.rep") < col("b.rep")),
        )
        .select(col("a.rep").alias("rep_a"), col("b.rep").alias("rep_b"))
        .distinct()
    )
    # multi-member groups verify once against themselves (rep, rep) —
    # the fan-out in near_dup_pairs turns that row into all
    # within-group pairs
    self_cand = sh.filter(col("grp_n") > 1).select(
        col("rep").alias("rep_a"), col("rep").alias("rep_b")
    )
    cand = cross.unionByName(self_cand)
    return keyed, sh, cand


def verified_rep_pairs(
    docs: DataFrame,
    band_cap: int = _BAND_CAP,
    plan: "tuple[int, int, int] | str | None" = "auto",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Candidate generation + exact-Jaccard verify, at REPRESENTATIVE
    level: returns ``(keyed, rel, verified)`` where verified is
    (ckey_a, ckey_b, rep_a, rep_b, jaccard) — cross-group pairs plus
    one (rep, rep) row per verified multi-member group. This tiny
    relation is the whole dedup signal; both the pair fan-out
    (:func:`near_dup_pairs`) and the cluster builder
    (:func:`doc_dedup_clusters`) start from it, so the expensive
    LSH/verify chain runs once and nothing downstream is ever
    quadratic in group size. Materialized via lazy localCheckpoint —
    downstream sorts/iterations replay the checkpoint, not the chain.
    """
    keyed, rel, cand = near_dup_candidates(docs, band_cap, plan)
    if "hv" in rel.columns:
        # ---- floor shape: hv is checkpointed in rel; the size-ratio
        # prefilter runs here on a NARROW (rep, n) int relation before
        # the hv-array joins ship hundreds of hashes per row through
        # the shuffle. Provably output-identical (the oracle needs no
        # mirror), pure plan optimization; at 100× under the floor
        # plan it removed ~4/5 of the 1.6 M candidates (round 8).
        sizes = rel.select(col("rep"), F.size("hv").alias("n"))
        cand = (
            cand.join(
                sizes.select(col("rep").alias("rep_a"), col("n").alias("n_a")),
                "rep_a",
            )
            .join(
                sizes.select(col("rep").alias("rep_b"), col("n").alias("n_b")),
                "rep_b",
            )
            .filter(
                F.least("n_a", "n_b").cast("double")
                >= F.greatest("n_a", "n_b") * F.lit(_JACCARD_MIN)
            )
            .select("rep_a", "rep_b")
        )
        hv_rel = rel
    else:
        # ---- adaptive tiers: the size prefilter already ran inside
        # the band self-join; recompute md5 shingle hashes for the
        # CANDIDATE reps only (candidate-sized work — cand_reps
        # arrives broadcast-sized after its distinct, so the
        # rel ⋈ cand_reps probe is a map-side filter over the narrow
        # text checkpoint). cand feeds three consumers below —
        # materialize it so none replays the banding chain. NB the
        # verify hashes with the FLOOR's md5 family regardless of
        # which family banded the candidates, so emitted jaccard
        # values are tier-independent.
        cand = materialize(cand)
        cand_reps = (
            cand.select(col("rep_a").alias("rep"))
            .unionByName(cand.select(col("rep_b").alias("rep")))
            .distinct()
        )
        # the checkpointed rel carries the ARROW stage's capped width
        # (session.arrow_stage_width); this recompute is the pipeline's
        # heaviest pure-JVM stage, so respread the candidate-filtered
        # narrow text (candidate-sized — cheap) back to full width
        # BEFORE the shingle projection: both stages run at their
        # solo-best widths in one session (round 12, SCALE.md)
        full_w = rel.sparkSession.sparkContext.defaultParallelism * 2
        hv_rel = (
            rel.join(cand_reps, "rep")
            .repartition(full_w, col("rep"))
            .select(
                "rep",
                "ckey",
                shingle_hashes(
                    char_shingles_of_clean(col("ctext"), _SHINGLE_K)
                ).alias("hv"),
            )
            .transform(materialize)
        )
    sa = hv_rel.select(
        col("rep").alias("rep_a"), col("hv").alias("sh_a"), col("ckey").alias("ckey_a")
    )
    sb = hv_rel.select(
        col("rep").alias("rep_b"), col("hv").alias("sh_b"), col("ckey").alias("ckey_b")
    )
    jac = F.size(F.array_intersect(col("sh_a"), col("sh_b"))).cast("double") / F.size(
        F.array_union(col("sh_a"), col("sh_b"))
    )
    verified = (
        cand.join(sa, "rep_a")
        .join(sb, "rep_b")
        .withColumn("jaccard", jac)
        .filter(col("jaccard") >= _JACCARD_MIN)
        .select("ckey_a", "ckey_b", "rep_a", "rep_b", "jaccard")
        .transform(materialize)
    )
    return keyed, rel, verified


@query("doc_near_dup_pairs", oracle=_near_dup_oracle())
def doc_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`near_dup_pairs` with deterministic
    output order (the sort's sampling pass re-reads only the tiny
    verified-pair relation, so no _sorted_out is needed here)."""
    return near_dup_pairs(load_table(spark, "documents", sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------
# SimHash buckets
# ---------------------------------------------------------------------
def _simhash_oracle() -> str:
    tok_hash = f"list_transform({_SQL_TOKS}, t -> {_sql_md5_i64('t')})"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({tok_hash}, "
        f"h -> CASE WHEN (h & {1 << b}) > 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
        SELECT simhash,
               count(*)                                         AS n_docs,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
        FROM (SELECT doc_id, CAST({bit_terms} AS INTEGER) AS simhash FROM documents)
        GROUP BY simhash
        HAVING count(*) > 1
        ORDER BY simhash
    """


@query("doc_simhash_buckets", oracle=_simhash_oracle())
def doc_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing an identical 16-bit SimHash (near-dup buckets).

    SimHash collapses similar bags-of-tokens to the same integer; a
    single hash aggregate finds candidate buckets — the cheapest
    near-dup prefilter (one map pass + one shuffle of intermediate
    <bucket, id> pairs). Wider hashes + hamming-ball probing are the
    production extension; 16 bits keeps the oracle expression small.
    """
    docs = load_table(spark, "documents", sf_dir)
    ids_str = F.array_join(
        F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
        ",",
    )
    # Hash the tokens ONCE as a bound column; feeding the hash chain
    # straight into simhash16 would re-run tokenize + md5-per-token in
    # every one of the 16 bit aggregates (the per-aggregate
    # re-evaluation caveat on simhash16_from_hashes).
    return (
        docs.select(
            col("doc_id"),
            F.transform(tokens(col("text")), md5_i64).alias("th"),
        )
        .select(col("doc_id"), simhash16_from_hashes(col("th")).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), ids_str.alias("doc_ids"))
        .filter(col("n_docs") > 1)
        .orderBy("simhash")
    )


# ---------------------------------------------------------------------
# language ID (marker lexicons, fixed tie order)
# ---------------------------------------------------------------------
# tie priority (en, es, fr, de, zh) — the SAME constant the classifier
# uses, so the oracle's CASE order can never diverge from lang_id's
from pulsar_spark_spark.functions.text import LANG_ORDER as _LANG_ORDER


def _lang_oracle() -> str:
    score = {
        lang: (
            f"len(list_filter({_SQL_TOKS}, t -> t IN "
            f"({', '.join(repr(m) for m in markers)})))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    cases = []
    for i, lang in enumerate(_LANG_ORDER):
        later = _LANG_ORDER[i + 1 :]
        if later:
            cond = " AND ".join(f"s_{lang} >= s_{other}" for other in later)
            cases.append(f"WHEN {cond} THEN '{lang}'")
        else:
            cases.append(f"ELSE '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    score_cols = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
        SELECT lang, pred_lang, count(*) AS n_docs
        FROM (
            SELECT lang, {case_sql} AS pred_lang
            FROM (SELECT lang, {score_cols} FROM documents)
        )
        GROUP BY lang, pred_lang
        ORDER BY lang, pred_lang
    """


@query("doc_language_id", oracle=_lang_oracle())
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the n-gram-lexicon language classifier vs
    the labeled ``lang`` column.

    Argmax over marker-hit counts with a FIXED priority order for ties
    (en > es > fr > de > zh) so the result is deterministic — ties are
    common on short or out-of-lexicon documents. One scan + one tiny
    aggregate; the marker lists ship with the expression (no lookup
    join), so the classifier is a pure map at any scale — which is
    exactly why the scan is spread first (round 15): the whole
    tokenize + 5-lexicon classifier otherwise runs on the single-file
    fixture scan's one partition.
    """
    docs = spread_scan(load_table(spark, "documents", sf_dir))
    pred = lang_id(tokens(col("text")))
    return (
        docs.select(col("lang"), pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


# ---------------------------------------------------------------------
# quality scoring + token counting (per-source aggregate)
# ---------------------------------------------------------------------
# BPE-ish pre-tokenizer regex: letter runs, single digits, single
# punctuation — the GPT-2-style shape. Runs JVM-side inside codegen.
_BPE_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"


@query(
    "doc_quality_stats",
    # Round 5: absorbs the former doc_token_counts query (registry
    # consolidated to fit the driver's 50-row correctness gate) — the
    # token-budget columns ride the same scan + 20-group aggregate.
    oracle=f"""
        SELECT
            source,
            count(*)                        AS n_docs,
            round(avg(n_chars), 4)          AS avg_chars,
            round(avg(n_tokens), 4)         AS avg_tokens,
            round(avg(avg_token_len), 4)    AS avg_token_len,
            round(avg(stopword_ratio), 4)   AS avg_stopword_ratio,
            round(avg(punct_ratio), 4)      AS avg_punct_ratio,
            round(avg(upper_ratio), 4)      AS avg_upper_ratio,
            CAST(sum(n_tokens) AS BIGINT)   AS total_ws_tokens,
            CAST(sum(n_bpe) AS BIGINT)      AS total_bpe_tokens,
            round(avg(n_bpe), 4)            AS avg_bpe_tokens,
            max(n_bpe)                      AS max_bpe_tokens
        FROM (
            SELECT
                source,
                length(text) AS n_chars,
                len(ws) AS n_tokens,
                len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe,
                length(array_to_string(ws, ''))
                    / greatest(len(ws), 1)::DOUBLE AS avg_token_len,
                len(list_filter(ws, t -> lower(t) IN
                    ({', '.join(repr(m) for m in LANG_MARKERS['en'])})))
                    / greatest(len(ws), 1)::DOUBLE AS stopword_ratio,
                (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                    / greatest(length(text), 1)::DOUBLE AS punct_ratio,
                (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                    / greatest(length(text), 1)::DOUBLE AS upper_ratio
            FROM (
                SELECT source, text,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x != '') AS ws
                FROM documents
            )
        )
        GROUP BY source
        ORDER BY source
    """,
)
def doc_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-quality profile + corpus token budget (the
    filter-threshold and token-accounting inputs of a training-data
    pipeline): length/punct/stopword/upper ratios, whitespace tokens,
    and a BPE-ish regex count per source.

    All features are single-pass column expressions
    (functions/text.py quality_features + one JVM-side regex) — the
    whole query is one scan + one 20-group aggregate regardless of
    corpus size.
    """
    docs = load_table(spark, "documents", sf_dir)
    feats = quality_features(col("text"))
    per_doc = docs.select(
        "source",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.size(F.regexp_extract_all(col("text"), F.lit(_BPE_RE), 0)).alias("n_bpe"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["upper_ratio"].alias("upper_ratio"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("avg_token_len"), 4).alias("avg_token_len"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
            F.round(F.avg("upper_ratio"), 4).alias("avg_upper_ratio"),
            F.sum("n_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.round(F.avg("n_bpe"), 4).alias("avg_bpe_tokens"),
            F.max("n_bpe").alias("max_bpe_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------
# document fingerprinting via rolling hash (word 3-gram Rabin-style)
# with TRUE winnowing (window-minima selection, Schleimer SIGMOD'03)
# ---------------------------------------------------------------------
# Three coordinated guards keep the gram self-join 100-TB-shaped:
#
# 1. ONE md5 PER TOKEN, grams by integer mixing (round 10): the
#    per-gram map work used to be concat_ws + a full md5 + conv per
#    word-3-gram — measured as the DOMINANT stage cost at 100×/1000×
#    (the join was already df-capped). Gram hashes are derived from
#    per-token md5 hashes by a positional linear mix
#    (t1·A1 + t2·A2 + t3·A3, distinct prime multipliers per position)
#    — the shingle_hashes discipline: pay the expensive hash once,
#    derive the rest arithmetically. Same family in the DuckDB
#    oracle, so fingerprints stay value-checked.
#    FINGERPRINT SPACE (round 11): tokens hash into a 39-bit prime
#    field (t < _TOK_P < 2³⁹) and the positional sum is taken WITHOUT
#    a final modulus, so the gram identity lives in a ~62-bit space —
#    BIGINT-exact on Spark, DuckDB AND numpy (t < 2³⁹, A < 2²² ⇒ each
#    product < 2⁶¹, sum < 2⁶³). Round 10 reduced the sum mod
#    P = 2³¹−1, which saturates at corpus scale: at 1e8+ docs,
#    collision-inflated document frequency pushes genuine fingerprints
#    over the df cap (silently pruning signal) and decontamination
#    gains ~n_bench·n_prod/2³¹ false flags. At ~62 bits both terms are
#    negligible again out past 10¹² grams (pairwise collision rate
#    ≈ 2⁻⁶¹; token-level 39-bit collisions need the other TWO tokens
#    of the gram to agree exactly, a strictly smaller term).
# 2. WINNOWING (round 10): instead of emitting every distinct gram,
#    select the minimum gram hash per sliding window of _WINNOW_W
#    grams — expected density 2/(w+1), i.e. ~4.4× fewer (doc, gram)
#    rows at w=8 through the explode, the df agg, the materialized
#    checkpoint AND both self-join sides. Any shared run of ≥ w
#    consecutive grams still shares ≥ 1 fingerprint (the winnowing
#    guarantee); shared-count thresholds scale by the same 2/(w+1).
# 3. Hot-fingerprint document-frequency cap (standard practice): a
#    key shared by d documents produces ~d²/2 join rows, so one stock
#    phrase in 1% of a 100 TB corpus would turn the gram join into a
#    quadratic hot bucket. Any surviving fingerprint with df > cap is
#    dropped from BOTH sides before the self-join, bounding per-key
#    fanout. The cap is DENSITY-SCALED under winnowing
#    (cap_w = 2·cap/(w+1) ≈ 14 at w=8): winnowing divides every
#    gram's df by ~(w+1)/2, so keeping the raw cap would REVIVE
#    boilerplate grams the cap exists to kill — measured at 100×:
#    post-cap rows 72k → 150k and join pairs 0.96M → 2.46M with the
#    unscaled cap, versus the intended ~4× reduction with the scaled
#    one. The oracle applies the same scaled constant.
_MAX_GRAM_DF = 64
_WINNOW_W = 8
# token-hash field: the largest prime below 2³⁹ (wide enough that
# token collisions are a strictly-dominated term, narrow enough that
# the 3-way positional sum below stays inside signed 64-bit)
_TOK_P = 549_755_813_881
# positional mixing multipliers for the token-hash → gram-hash derive:
# distinct primes < 2²², magnitudes spread (4.19e6 / 3.30e6 / 2.40e6)
# so no small integer relation links the positions;
# _TOK_P·(ΣA) < 2⁶³ ⇒ the un-modded sum is BIGINT-exact everywhere
_GRAM_MIX = (4_194_301, 3_299_969, 2_399_993)


def _fp_cap(max_gram_df: int, w: int) -> int:
    """Effective df cap for winnowed fingerprints: the raw-gram cap
    scaled by the 2/(w+1) winnow density (identity at w<=1)."""
    if w <= 1:
        return max_gram_df
    return max(4, (2 * max_gram_df) // (w + 1))


def _sql_winnowed_grams(w: int = _WINNOW_W) -> str:
    """DuckDB mirror of :func:`pruned_grams`' pre-cap stage: per-token
    md5 hashes → positional gram mix → window-minima winnowing →
    distinct, unnested to (doc_id, g) rows. ``w=1`` degenerates to
    all distinct grams."""
    a1, a2, a3 = _GRAM_MIX
    pick = (
        f"""CASE WHEN len(g_pos) >= {w} THEN list_distinct(list_transform(
                 range({w}, len(g_pos) + 1),
                 i -> list_min(g_pos[(i - {w} + 1):i])))
             WHEN len(g_pos) > 0 THEN [list_min(g_pos)]
             ELSE [] END"""
        if w > 1
        else "list_distinct(g_pos)"
    )
    return f"""
    SELECT doc_id, unnest({pick}) AS g FROM (
        SELECT doc_id, list_transform(
            range(1, greatest(len(th) - 2, 0) + 1),
            i -> th[i] * {a1} + th[i+1] * {a2} + th[i+2] * {a3}
        ) AS g_pos
        FROM (
            SELECT doc_id, list_transform(
                toks, t -> {_sql_md5_i64('t')} % {_TOK_P}
            ) AS th
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
        )
    )
"""


_SQL_GRAMS = _sql_winnowed_grams()


# Expression plans stay the committed shape through this many docs
# (mirrors the banding ladder's floor discipline: every oracle-gate
# and bench corpus — sf0.001/0.01/0.1, all ≤ 5 k docs — keeps the
# pure-JVM plan the plan-audit tests pin). Above it, the fingerprint
# map stage routes through the vectorized Arrow kernel, whose output
# is BIT-IDENTICAL (same md5-per-token family, same integer mix, same
# window minima), so unlike the banding tiers it stays fully
# oracle-checkable at any scale.
_GRAM_ENGINE_FLOOR_DOCS = 20_000


def pruned_grams(
    docs: DataFrame,
    max_gram_df: int = _MAX_GRAM_DF,
    w: int = _WINNOW_W,
    engine: str = "auto",
) -> DataFrame:
    """(doc_id, g) — winnowed word-3-gram fingerprints per document
    (distinct window-minima over windows of ``w`` grams, see the
    block comment above), with fingerprints hotter than the
    density-scaled cap (:func:`_fp_cap` of ``max_gram_df``) discarded
    (they identify nothing and explode any downstream gram-keyed
    join). ``w=1`` selects every distinct gram at the raw cap — the
    pre-round-10 behavior, kept for the df-cap isolation tests.

    ``engine``: ``"expr"`` = the pure-JVM expression pipeline;
    ``"arrow"`` = the fused vectorized kernel
    (:func:`_winnowed_grams_arrow` — measured-identical fingerprints,
    ~interpretation-free); ``"auto"`` = expression at/below
    ``_GRAM_ENGINE_FLOOR_DOCS`` (every gate/bench corpus), Arrow
    above. Catalyst evaluates higher-order-function lambdas
    interpreted (~60 ns per boxed element visit), and this stage is
    three stacked HOFs (md5-per-token, 3-way mix per gram, slice-min
    per window) — measured as ~95% of the containment family's 1000×
    wall; the kernel streams the same arithmetic vectorized.

    The hot set is tiny by construction (only pathological grams
    exceed the cap) → broadcast anti-join, no extra shuffle of the
    gram relation.
    """
    if engine not in ("auto", "expr", "arrow"):
        raise ValueError(
            f"engine {engine!r}: accepted values are 'auto', 'expr', 'arrow'"
        )
    # a pinned engine needs the row count only to decide the spread,
    # which defaults safe (spread=True) on unknown size — never pay
    # _docs_rows' counted-scan fallback just for that (ADVICE low)
    n = _docs_rows(docs, count_fallback=(engine == "auto"))
    if engine == "auto":
        engine = (
            "expr" if n is None or n <= _GRAM_ENGINE_FLOOR_DOCS else "arrow"
        )
    # the gram stage owns its input spread (round 12 — callers used to
    # pre-repartition): the expr engine wants full 2×-parallelism
    # width for its HOF projections; the Arrow engine caps at
    # session.arrow_stage_width so local Python workers get cores
    # while the session's JVM stages keep full width. Below the engine
    # floor the spread is skipped entirely — it exists to fix big-scan
    # core starvation (a single parquet file scans in ~size/128MB
    # tasks; profiled 50 s on 14 of 32 threads at 100×), and at gate
    # scale it is one pure-cost Exchange (+0.46 s on doc_curation).
    from pulsar_spark_spark.session import arrow_stage_width

    spark = docs.sparkSession
    spread = n is None or n > _GRAM_ENGINE_FLOOR_DOCS
    if engine == "arrow":
        rel = (
            docs.repartition(arrow_stage_width(spark), col("doc_id"))
            if spread
            else docs
        ).select(col("doc_id"), clean_text(col("text")).alias("ctext"))
        exploded = _winnowed_grams_arrow(rel, w).transform(materialize)
    else:
        a1, a2, a3 = _GRAM_MIX
        th = F.transform(tokens(col("text")), lambda t: md5_i64(t) % _TOK_P)
        grams3 = F.transform(
            F.sequence(F.lit(0), F.size(col("th")) - 3),
            lambda i: (
                F.element_at(col("th"), i + 1) * a1
                + F.element_at(col("th"), i + 2) * a2
                + F.element_at(col("th"), i + 3) * a3
            ),
        )
        g_pos = F.when(F.size(col("th")) >= 3, grams3).otherwise(
            F.expr("CAST(array() AS ARRAY<BIGINT>)")
        )
        exploded = (
            (
                docs.repartition(
                    spark.sparkContext.defaultParallelism * 2,
                    col("doc_id"),
                )
                # Below the engine floor NO spread (r12 measured the
                # keyed exchange at +0.46 s on doc_curation; round 15
                # re-measured a cheap raw round-robin spread_scan here
                # and it still lost — winnow 1.40 vs 1.45 s, curation
                # 2.06 vs 2.47 s, off-arm winning every interleaved
                # round: fat text rows, light per-doc derivation).
                if spread
                else docs
            )
            .select(col("doc_id"), th.alias("th"))
            # each transform lambda must read a BOUND attribute —
            # project token hashes, then the positional gram array
            # (the per-element re-evaluation trap in
            # char_shingles_of_clean's docstring)
            .select("doc_id", g_pos.alias("g_pos"))
            .select(
                "doc_id",
                F.explode(winnow_minima(col("g_pos"), w)).alias("g"),
            )
            # every downstream shape reads this at least twice (the
            # hot-set agg + each join side), and Spark re-evaluates
            # the tokenize + hash projection per consumer
            # (ReuseExchange doesn't fire across differently-pruned
            # branches) — pay it once.
            .transform(materialize)
        )
    hot = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(col("df") > _fp_cap(max_gram_df, w))
        .select("g")
    )
    return exploded.join(F.broadcast(hot), "g", "left_anti")


def _winnowed_grams_arrow(rel: DataFrame, w: int) -> DataFrame:
    """(doc_id, g) winnowed word-3-gram fingerprints via one
    vectorized Arrow pass over (doc_id, ctext) — the adaptive-engine
    twin of the expression pipeline in :func:`pruned_grams`, producing
    BIT-IDENTICAL fingerprints (pinned in pytest):

    - ``ctext`` is the JVM-side :func:`clean_text` output, so the
      bytes are pure ``[a-z ]`` ASCII by construction — byte-run
      tokenization here equals the expression form's split-on-spaces
      exactly, with no Unicode-lowercasing divergence risk (the regex
      clean stays JVM-side precisely so the kernel never sees a
      multi-byte char).
    - md5 is paid once per DISTINCT token via a worker-lifetime cache
      (hashlib md5 of the ASCII bytes == Spark's md5 of the same
      string; first 15 hex chars → int, mod _TOK_P — the md5_i64
      contract), so a zipfian corpus pays ~vocabulary md5s per
      worker, not ~token-count.
    - gram hashes are the same un-modded positional linear mix (a
      ~62-bit value, int64-exact since _TOK_P·ΣA < 2⁶³); the
      sliding-window minima use w-1 vectorized shifted-minimum passes
      with cross-document windows masked out (short docs take their
      segment min via reduceat); per-doc distinct is a lexsort over
      the (row, fingerprint) pair — the single-word packed-sort trick
      of :func:`_text_bands_arrow` needs the value to fit beside the
      row index in 64 bits, which a 62-bit fingerprint does not.
    """
    a1, a2, a3 = _GRAM_MIX

    def fn(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        M = _TOK_P
        tok_cache: dict = {}
        for batch in batches:
            did = batch.column("doc_id")
            txt = batch.column("ctext")
            if isinstance(txt, pa.ChunkedArray):
                txt = txt.combine_chunks()
            n_rows = len(txt)
            if n_rows == 0:
                continue
            off_dtype = (
                np.int64 if pa.types.is_large_string(txt.type) else np.int32
            )
            off = np.frombuffer(txt.buffers()[1], dtype=off_dtype)[
                txt.offset : txt.offset + n_rows + 1
            ].astype(np.int64)
            dbuf = txt.buffers()[2]
            data = (
                np.frombuffer(dbuf, dtype=np.uint8)
                if dbuf is not None
                else np.empty(0, np.uint8)
            )
            flat = data[off[0] : off[-1]]
            off = off - off[0]
            if txt.null_count:
                # the spec leaves null slots' spans undefined-but-
                # monotonic: blank any bytes they cover so they can
                # never fabricate tokens
                valid = np.asarray(txt.is_valid())
                if not valid.all():
                    flat = flat.copy()
                    span_doc = np.repeat(
                        np.arange(n_rows), off[1:] - off[:-1]
                    )
                    flat[~valid[span_doc]] = 32
            n = len(flat)
            # token runs: non-space bytes, with runs BROKEN at doc
            # boundaries (adjacent docs are contiguous in flat)
            nonsp = flat != 32
            doc_start = np.zeros(n + 1, bool)
            doc_start[np.minimum(off[:-1], n)] = True
            prev_nonsp = np.zeros(n, bool)
            if n:
                prev_nonsp[1:] = nonsp[:-1]
            t_start = nonsp & (doc_start[:n] | ~prev_nonsp)
            next_nonsp = np.zeros(n, bool)
            if n:
                next_nonsp[:-1] = nonsp[1:]
            t_end = nonsp & (doc_start[1 : n + 1] | ~next_nonsp)
            s_idx = np.nonzero(t_start)[0]
            e_idx = np.nonzero(t_end)[0]
            # tokens per doc: a token belongs to the doc whose span
            # contains its start byte
            tok_off = np.searchsorted(s_idx, off).astype(np.int64)
            n_tok = len(s_idx)
            th = np.empty(n_tok, np.int64)
            if len(tok_cache) > 2_000_000:
                # vocabulary cache bound (~100 MB worst case): an
                # adversarial all-unique-token corpus must not grow a
                # worker's heap without limit
                tok_cache.clear()
            get = tok_cache.get
            fb = flat.tobytes()  # one copy; slicing bytes is cheap
            for j in range(n_tok):
                t = fb[s_idx[j] : e_idx[j] + 1]
                v = get(t)
                if v is None:
                    v = (
                        int(hashlib.md5(t).hexdigest()[:15], 16) % M
                    )
                    tok_cache[t] = v
                th[j] = v
            t_counts = tok_off[1:] - tok_off[:-1]
            g_counts = np.maximum(t_counts - 2, 0)
            total = int(g_counts.sum())
            if total == 0:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.empty(0, np.int64)),
                        pa.array(np.empty(0, np.int64)),
                    ],
                    ["doc_id", "g"],
                )
                continue
            g_off = np.zeros(n_rows + 1, np.int64)
            np.cumsum(g_counts, out=g_off[1:])
            idx = np.repeat(tok_off[:-1], g_counts) + (
                np.arange(total) - np.repeat(g_off[:-1], g_counts)
            )
            g = th[idx] * a1 + th[idx + 1] * a2 + th[idx + 2] * a3
            within = np.arange(total) - np.repeat(g_off[:-1], g_counts)
            if w <= 1:
                sel = g
                sel_doc = np.repeat(
                    np.arange(n_rows, dtype=np.int64), g_counts
                )
            else:
                # sliding min of width w over the flat gram array:
                # m[i] = min(g[i .. i+w-1]) after w-1 shifted passes
                m = g.copy()
                for s in range(1, w):
                    np.minimum(m[:-s], g[s:], out=m[:-s])
                # windows fully inside their doc
                max_start = np.repeat(g_counts - w, g_counts)
                win_ok = within <= max_start
                sel = m[win_ok]
                sel_doc = np.repeat(
                    np.arange(n_rows, dtype=np.int64), g_counts
                )[win_ok]
                # short docs (0 < grams < w) keep their global min.
                # reduceat over the starts of ALL non-empty docs —
                # those segments are contiguous, so each reduction
                # covers exactly one doc's grams (reducing over only
                # the short docs' starts would extend each segment to
                # the NEXT short doc, swallowing other docs' grams —
                # caught by the engine-parity test)
                short = (g_counts > 0) & (g_counts < w)
                if short.any():
                    nz = np.nonzero(g_counts > 0)[0]
                    mins_nz = np.minimum.reduceat(g, g_off[:-1][nz])
                    pick = g_counts[nz] < w
                    sel = np.concatenate([sel, mins_nz[pick]])
                    sel_doc = np.concatenate(
                        [sel_doc, nz[pick].astype(np.int64)]
                    )
            # distinct (doc, fingerprint): fingerprints are ~62-bit,
            # too wide to pack beside the row index in one 64-bit
            # word — lexsort the (row, g) pair and drop consecutive
            # duplicates instead (two stable counting passes; same
            # O(n log n), ~1.4× the single packed sort, measured)
            order = np.lexsort((sel, sel_doc))
            sd = sel_doc[order]
            sg = sel[order]
            keep = np.ones(len(sd), bool)
            keep[1:] = (sd[1:] != sd[:-1]) | (sg[1:] != sg[:-1])
            out_row = sd[keep]
            out_g = sg[keep]
            doc_ids = np.asarray(did)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids[out_row]), pa.array(out_g)],
                ["doc_id", "g"],
            )

    return rel.select("doc_id", "ctext").mapInArrow(
        fn, "doc_id bigint, g bigint"
    )


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 5,
    max_gram_df: int = _MAX_GRAM_DF,
    w: int = _WINNOW_W,
    min_shared_raw_grams: "int | None" = None,
) -> DataFrame:
    """Shared winnowed-fingerprint counts between document pairs
    (MOSS/winnowing containment detection) over a ``documents``
    relation with (doc_id, text).

    .. warning:: UNIT CHANGE (round 10): ``min_shared`` counts
       WINNOWED FINGERPRINTS, not raw distinct grams as in rounds
       ≤ 9. At the default ``w=8`` fingerprint density is
       2/(w+1) ≈ 0.22 of the distinct grams, so an explicit
       ``min_shared`` tuned against the old raw-gram behavior is
       silently ~4.4× stricter here. Callers holding a raw-gram
       threshold should pass it as ``min_shared_raw_grams`` instead —
       it is scaled by the winnow density automatically (identity at
       ``w<=1``, where fingerprints ARE the distinct grams). Passing
       both is an error.

    Pairs sharing ≥ ``min_shared`` surviving fingerprints are
    contained/overlapping candidates (the default 5 corresponds to
    the pre-winnowing threshold of ~20 shared grams). The join key is
    the fingerprint hash — bucketed like the LSH join, never
    all-pairs, the density-scaled df cap bounds any single key's
    fanout, and winnowing + that cap cut the measured join volume
    ~10× at 100× data (0.96M → 96k pair rows).
    """
    if min_shared_raw_grams is not None:
        if min_shared != 5:
            raise ValueError(
                "pass min_shared OR min_shared_raw_grams, not both"
            )
        min_shared = (
            min_shared_raw_grams
            if w <= 1
            else max(1, (2 * min_shared_raw_grams) // (w + 1))
        )
    pruned = pruned_grams(docs, max_gram_df, w)
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(b, (col("a.g") == col("b.g")) & (col("a.doc_id") < col("b.doc_id")))
        .groupBy(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
        WITH grams AS ({_SQL_GRAMS}),
        hot AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(*) > {_fp_cap(_MAX_GRAM_DF, _WINNOW_W)}
        ),
        pruned AS (
            SELECT doc_id, g FROM grams WHERE g NOT IN (SELECT g FROM hot)
        )
        SELECT doc_a, doc_b, n_shared
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_shared
            FROM pruned a JOIN pruned b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        WHERE n_shared >= 5
        ORDER BY doc_a, doc_b
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-winnowing containment pairs over the documents table:
    window-minima fingerprint selection (w=8), hot-fingerprint df cap,
    fingerprint-keyed self-join (see :func:`winnow_pairs`; the oracle
    mirrors the deterministic window-min selection with a DuckDB
    list-slice/list_min transform).

    The tokenize + md5-per-gram explode is the CPU-dominant stage at
    scale; a single parquet file scans in ~size/128MB tasks, which
    starves the cores (profiled at 100×: 50 s on 14 of 32 threads).
    Spread the input over 2×parallelism BEFORE the projection — the
    same pre-spread :func:`doc_ngram_jaccard` applies (its 100× slope
    is ×2.8 with it; winnow's was ×21 without it).
    """
    docs = load_table(spark, "documents", sf_dir)
    # the gram stage owns its spread since round 12 (engine-dependent
    # width — see pruned_grams)
    return winnow_pairs(docs)


# ---------------------------------------------------------------------
# n-gram Jaccard dedup: the set-similarity member of the dedup family
# ---------------------------------------------------------------------
_NGRAM_JACCARD_MIN = 0.5


@query(
    "doc_ngram_jaccard",
    oracle=f"""
        WITH grams AS ({_SQL_GRAMS}),
        hot AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(*) > {_fp_cap(_MAX_GRAM_DF, _WINNOW_W)}
        ),
        pruned AS (
            SELECT doc_id, g FROM grams WHERE g NOT IN (SELECT g FROM hot)
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n FROM pruned GROUP BY doc_id
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_shared
            FROM pruned a JOIN pruned b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_shared,
               round(CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared), 4)
                   AS jaccard
        FROM pairs
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared)
              >= {_NGRAM_JACCARD_MIN}
        ORDER BY doc_a, doc_b
    """,
)
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs over the WINNOWED
    fingerprint sets (the brief's "n-gram Jaccard" dedup family
    member).

    Candidates come from the same fingerprint-hash equi-join as
    winnowing (never all-pairs; the df cap bounds per-key fanout),
    then the exact Jaccard ``|∩| / (|A| + |B| - |∩|)`` of the two
    documents' fingerprint sets is computed from the shared count and
    per-doc set sizes — all JVM-side integer/double arithmetic,
    bit-identical in the oracle. Jaccard is taken over the winnowed,
    df-capped fingerprint vocabulary: window-minima selection is a
    similarity-preserving coreset of the gram set (near-identical
    documents select near-identical minima, so their fingerprint
    Jaccard tracks their gram Jaccard), and grams present in >
    ``_MAX_GRAM_DF`` docs carry no identifying signal (standard
    stop-gram removal) — dropping them on BOTH the numerator and
    denominator keeps the measure a true Jaccard of the selected
    sets.

    Scale shape: one shuffle on the gram hash for candidates, one tiny
    join of the candidate pairs against per-doc sizes. The pruned-gram
    relation feeds three consumers (both join sides + sizes), so it is
    materialized once via a lazy localCheckpoint, same rationale as
    :func:`doc_near_dup_pairs`.
    """
    docs = load_table(spark, "documents", sf_dir)
    # the gram stage owns its spread since round 12 (engine-dependent
    # width — see pruned_grams)
    pruned = pruned_grams(docs).transform(materialize)
    sizes = pruned.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = pruned.alias("a")
    b = pruned.alias("b")
    pairs = (
        a.join(b, (col("a.g") == col("b.g")) & (col("a.doc_id") < col("b.doc_id")))
        .groupBy(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(col("doc_id").alias("doc_a"), col("n").alias("n_a"))
    nb = sizes.select(col("doc_id").alias("doc_b"), col("n").alias("n_b"))
    jac = col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(col("jaccard") >= _NGRAM_JACCARD_MIN)
        .select("doc_a", "doc_b", "n_shared", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------
# dedup clusters: connected components over the near-dup pair graph
# (the iterative-algorithm operator class — min-label propagation)
# ---------------------------------------------------------------------
class CCBudgetExceeded(RuntimeError):
    """Raised when a component walk exhausts its iteration budget —
    the signal :func:`component_walk` catches to fall back from the
    min-label fast path to the ~log-diameter star walk. Subclasses
    RuntimeError so pre-round-8 callers matching that type still
    work."""


def connected_components_min_label(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) via min-label propagation over an edge list.

    Each iteration: every node takes the min of its own label and its
    neighbors' labels — one join + one aggregate, O(component diameter)
    iterations, with a lazy localCheckpoint per round so the lineage
    (and Catalyst plan) does not grow with the iteration count — the
    standard Spark discipline for iterative algorithms. Near-dup
    components are shallow (pairs/triangles), so this converges in 1-2
    rounds; for web-scale graphs swap in the large-star/small-star
    variant (same per-round plan shape, fewer rounds).

    Convergence is detected by the seeded label-sum check: labels only
    decrease under min-propagation, so one decimal-sum scalar read per
    round (seeded with the init relation's sum, so fixpoint-at-init
    graphs stop after a single round) replaces the changed-flag join —
    never a collect of the data.

    Exhausting ``max_iter`` without reaching the fixpoint RAISES
    (round 8) instead of silently returning partially-propagated
    labels — a chained component with diameter > max_iter is exactly
    the case where the result would be wrong. For such graphs use
    :func:`connected_components_star`, which converges in ~log
    rounds regardless of diameter.

    ``stats``, if given, receives ``{"rounds": n}`` (round 14, the
    same contract as the star walk) so round counts are observable
    without instrumenting the loop.
    """
    spark = edges.sparkSession
    # the edge relation is read in EVERY round's join plus the label
    # init — materialize it once, or an expensive upstream (the LSH
    # near-dup pipeline) re-executes per iteration
    sym = (
        edges.select(col(a).alias("src"), col(b).alias("dst"))
        .unionByName(edges.select(col(b).alias("src"), col(a).alias("dst")))
        .transform(materialize)
    )
    # init label = min over the CLOSED neighborhood (one aggregate, no
    # join) instead of label = self: pair/triangle components — the
    # near-dup common case — then reach their fixpoint before the
    # first propagation round, so the loop runs ONCE (the detect
    # round) instead of twice. Round-8 interleaved A/B (min-of-2,
    # sf0.1): 8% faster doc_dedup_clusters, 15% faster
    # embedding_dedup_clusters than the label = self seed.
    labels = (
        sym.groupBy(col("src").alias("node"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("node", F.least("node", col("nbr_min")).alias("label"))
        .transform(materialize)
    )
    # Convergence by label SUM: labels only ever decrease under
    # min-propagation, so the sum is strictly decreasing until the
    # fixpoint — one scalar read per round replaces the second
    # (labels ⋈ neighbor_min) join the changed-flag variant needed.
    # Round 14: seed the check with the INIT labels' sum. The nbr_min
    # init already reaches the fixpoint on pair/triangle components —
    # the near-dup common case — and with prev_sum=None the loop had
    # to pay a SECOND full join round just to observe that round 1
    # changed nothing. One scalar aggregate over the materialized
    # init relation (V rows, no join) buys that O(E) round back;
    # graphs that do change in round 1 pay only the extra V-row scan.
    prev_sum = labels.agg(
        F.sum(col("label").cast("decimal(38,0)"))
    ).first()[0]
    converged = False
    rounds = 0
    for _ in range(max_iter):
        nbr = sym.join(labels, sym.dst == labels.node).select(
            col("src").alias("node"), col("label")
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .transform(materialize)
        )
        # decimal sum: at 10^10 nodes × 10^10-scale ids a long sum
        # could wrap and (pathologically) alias two distinct rounds
        new_sum = labels.agg(
            F.sum(col("label").cast("decimal(38,0)"))
        ).first()[0]
        rounds += 1
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise CCBudgetExceeded(
            f"min-label propagation did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget); use "
            "connected_components_star for deep/chained graphs"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the deep-graph twin of :func:`connected_components_min_label`.

    Where min-label propagation needs O(component diameter) rounds (a
    chained boilerplate cluster A~B~C~… at crawl scale can be
    arbitrarily deep), the star operations contract whole neighborhood
    trees per round and converge in ~log(diameter) rounds: large-star
    hangs every strictly-larger neighbor of a node off the minimum of
    its closed neighborhood; small-star does the same for the
    smaller-or-equal neighbors. Each phase is one aggregate + one join
    on the edge relation — the same per-round plan shape as min-label
    — with a lazy localCheckpoint per round so lineage stays flat, and
    convergence detected by (count, decimal-sum) scalar reads, never a
    data collect. Both converge to component = min(id); parity is
    pinned in pytest, and the path-graph test measures the round
    count at ~log2(diameter).

    Contract matches min-label: nodes appearing only in self-loop
    edges are dropped (callers pass cross edges and handle self-pairs
    separately). ``stats``, if given, receives ``{"rounds": n}``.
    """

    def canon(e: DataFrame) -> DataFrame:
        return (
            e.filter(col("x") != col("y"))
            .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
            .distinct()
        )

    E = canon(
        edges.select(col(a).alias("x"), col(b).alias("y"))
    ).transform(materialize)
    prev = None
    prev_E = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        # large-star: center at every node n; attach strictly larger
        # neighbors to m = min(closed neighborhood of n)
        sym = E.unionByName(
            E.select(col("v").alias("u"), col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", col("mn")).alias("m"))
        )
        large = canon(
            sym.filter(col("v") > col("u"))
            .join(mins, "u")
            .select(col("v").alias("x"), col("m").alias("y"))
        )
        # small-star: center at the larger endpoint; attach the
        # smaller neighbors (and the center) to their minimum
        ori = large.select(col("v").alias("u"), col("u").alias("v"))  # v < u
        smins = ori.groupBy("u").agg(F.min("v").alias("m"))
        E = canon(
            ori.join(smins, "u")
            .select(col("v").alias("x"), col("m").alias("y"))
            .unionByName(
                smins.select(col("u").alias("x"), col("m").alias("y"))
            )
        ).transform(materialize)
        rounds += 1
        sig = E.agg(
            F.count(F.lit(1)),
            F.sum(col("u").cast("decimal(38,0)")),
            F.sum(col("v").cast("decimal(38,0)")),
        ).first()
        sig = tuple(sig)
        # the (count, sum, sum) signature is a cheap NECESSARY
        # condition, but unlike min-label's monotone label sum it is
        # lossy for an edge SET ({(1,4),(2,3)} vs {(1,3),(2,4)}
        # collide) — confirm the fixpoint exactly with a multiset
        # difference before stopping
        if (
            sig == prev
            and prev_E is not None
            and E.exceptAll(prev_E).isEmpty()
        ):
            converged = True
            break
        prev, prev_E = sig, E
    if not converged:
        raise CCBudgetExceeded(
            f"star contraction did not converge in {max_iter} rounds — "
            "raise max_iter (rounds grow ~log(diameter), so this "
            "indicates either an extreme graph or a bug)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint E is a union of stars centered at each component's min
    sym = E.unionByName(E.select(col("v").alias("u"), col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            col("u").alias("node"),
            F.least("u", col("mn")).alias("component"),
        )
    )


# Edge bound for the driver-local union-find arm of component_walk's
# ``auto`` dispatch. 100k edges collect to ~2 MB of longs — an order
# under the broadcasts these same pipelines already ship to every
# executor — and a path-compressed union-find resolves them in
# milliseconds where EVERY distributed round costs a join + aggregate
# + checkpoint + scalar read (~0.4-0.5 s of fixed overhead at any
# graph size; the sf0.1 embedding rep graph needs FOUR of them).
_LOCAL_WALK_MAX_EDGES = 100_000


def _union_find_components(spark: SparkSession, rows) -> DataFrame:
    """(node, component) by a driver-side union-find over collected
    ``(x, y)`` edge rows — the small-graph arm of
    :func:`component_walk`.

    Same contract as :func:`connected_components_min_label` (the walk
    the gate replaces): every node that appears in ANY edge — a
    self-loop-only node keeps its own id as its component, exactly as
    min-label's closed-neighborhood init yields — and component =
    min id of the connected set. Union-by-min keeps every root equal
    to its component label; path compression bounds the walk. The
    caller owns the size gate (``_LOCAL_WALK_MAX_EDGES``) — this
    function is the ``broadcast_if_bounded`` pattern applied to graph
    state: below the bound the driver holds strictly less than the
    pipelines' existing broadcasts; above it the distributed walks
    are the right plan.
    """
    parent: dict[int, int] = {}

    def find(u: int) -> int:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for r in rows:
        x, y = r["x"], r["y"]
        if x not in parent:
            parent[x] = x
        if y not in parent:
            parent[y] = y
        if x == y:
            continue
        rx, ry = find(x), find(y)
        if rx != ry:
            if rx < ry:
                parent[ry] = rx
            else:
                parent[rx] = ry
    data = [(n, find(n)) for n in parent]
    return spark.createDataFrame(data, "node bigint, component bigint")


def component_walk(
    edges: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Pick and run a connected-components walk for ``edges``.

    It first collects at most ``_LOCAL_WALK_MAX_EDGES + 1`` edges in one bounded
    job, and a graph within the bound resolves from those same rows by
    driver-local union-find (:func:`_union_find_components`), so an
    unmaterialized edge lineage runs once — round 15, interleaved
    A/B: the sf0.1 embedding rep graph took 4 distributed min-label
    rounds (~1.9 s of per-round fixed overhead) for a few hundred
    edges the driver folds in milliseconds. Above
    the bound it probes the min-label fast path — fewest rounds on
    shallow pair/triangle graphs — under a deliberately SMALL budget,
    and on :class:`CCBudgetExceeded` (component diameter beyond the
    probe, e.g. a chained boilerplate cluster at crawl scale) falls
    back to the ~log(diameter) star walk instead of failing the
    pipeline. The wasted probe rounds replay the checkpointed edge
    relation, not the LSH/verify chain, so the retry costs
    iterations, not candidate generation. Tests pin either walk by
    calling :func:`connected_components_min_label` or
    :func:`connected_components_star` directly.
    """
    rows = (
        edges.select(col(a).cast("long").alias("x"), col(b).cast("long").alias("y"))
        .limit(_LOCAL_WALK_MAX_EDGES + 1)
        .collect()
    )
    if len(rows) <= _LOCAL_WALK_MAX_EDGES:
        return _union_find_components(edges.sparkSession, rows)
    try:
        return connected_components_min_label(edges, a, b, max_iter=8)
    except CCBudgetExceeded:
        return connected_components_star(edges, a, b)


@query(
    "doc_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE pairs AS (
            {_near_dup_oracle().replace("ORDER BY doc_a, doc_b", "")}
        ), sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ), closure AS (
            SELECT src AS node, src AS reach FROM sym
            UNION
            SELECT c.node, s.dst AS reach
            FROM closure c JOIN sym s ON c.reach = s.src
        ), labels AS (
            SELECT node, min(reach) AS component
            FROM closure GROUP BY node
        ), clusters AS (
            SELECT component AS cluster_id,
                   count(*)  AS nd,
                   string_agg(node::VARCHAR, ',' ORDER BY node) AS ids
            FROM labels GROUP BY component
        )
        SELECT d.doc_id                           AS cluster_id,
               COALESCE(c.nd, 1)                  AS n_docs,
               COALESCE(c.ids, d.doc_id::VARCHAR) AS doc_ids
        FROM documents d
        LEFT JOIN clusters c ON c.cluster_id = d.doc_id
        WHERE d.doc_id NOT IN (
            SELECT node FROM labels WHERE node <> component
        )
        ORDER BY cluster_id
    """,
)
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters + the dedup pipeline's TERMINAL keep-set in
    one relation: one row per SURVIVING document (the id set a
    training run would read), carrying its cluster membership —
    ``n_docs``/``doc_ids`` cover the whole near-dup cluster for kept
    cluster canonicals, and degenerate to (1, own id) for docs in no
    cluster. The pre-round-8 clusters view is the ``n_docs > 1``
    filter; the keep-set is the ``cluster_id`` column (round 8 folded
    the former ``doc_dedup_corpus`` registration in here so every
    registered query fits the driver's 50-row gate).

    Scale shape (round 7): the component walk runs at REPRESENTATIVE
    level (:func:`doc_components`) — one node per unique text, cross
    edges only — and group members attach to their rep's component at
    the very end. A million-copy page is ONE node in the iterative
    graph instead of 10¹²/2 edges; the fan-out happens once, in the
    final aggregation, where it is output-sized by definition. The
    keep-set arm is an anti-join against the LOSERS relation (sized
    by the number of duplicates, not the corpus) plus a left join of
    the kept ids against the output-sized cluster relation. The
    iterative Spark side (min-label propagation with per-round
    checkpoints) is hash-checked against a DuckDB recursive-CTE
    transitive closure over the FULL member-pair graph — both converge
    to component = min(doc_id), which the rep-level walk preserves
    because every rep is already the min id of its group.

    Output-shape caveat at crawl scale: ``doc_ids`` aggregates a
    cluster's FULL membership into one string — per-cluster unbounded
    (a 10⁶-copy page would make a 10⁶-id row). That is the requested
    report shape at fixture scale; a 100 TB consumer should read the
    normalized (node, component) relation (:func:`doc_components`)
    instead and skip this final aggregation."""
    docs = load_table(spark, "documents", sf_dir)
    # one component walk feeds both arms (clusters + losers)
    comp = doc_components(docs).transform(materialize)
    ids_str = F.array_join(
        F.transform(F.sort_array(F.collect_list("node")), lambda x: x.cast("string")),
        ",",
    )
    clusters = comp.groupBy(col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"), ids_str.alias("doc_ids")
    )
    losers = comp.filter(col("node") != col("component")).select(
        col("node").alias("doc_id")
    )
    kept = docs.select("doc_id").join(losers, "doc_id", "left_anti")
    return (
        kept.join(
            clusters, kept["doc_id"] == clusters["cluster_id"], "left"
        )
        .select(
            col("doc_id").alias("cluster_id"),
            F.coalesce(col("n_docs"), F.lit(1)).alias("n_docs"),
            F.coalesce(col("doc_ids"), col("doc_id").cast("string")).alias(
                "doc_ids"
            ),
        )
        .orderBy("cluster_id")
    )


def doc_components(
    docs: DataFrame,
    band_cap: int = _BAND_CAP,
    plan: "tuple[int, int, int] | str | None" = "auto",
) -> DataFrame:
    """(node=doc_id, component=min doc_id in its near-dup cluster) for
    every CLUSTERED document — the rep-level decomposition underlying
    :func:`doc_dedup_clusters` and :func:`dedup_corpus`.

    Identical result to running connected components over the full
    :func:`near_dup_pairs` output (every rep is its group's min id, so
    the min label over reps IS the min doc id over members), but the
    iterative part touches one node per unique text: cross-group
    verified pairs are the edges; a verified (rep, rep) self-pair
    marks a multi-member group as a cluster even with no cross edges;
    members then join in via their text key; :func:`component_walk`
    picks the walk.
    """
    keyed, rel, verified = verified_rep_pairs(docs, band_cap, plan)
    cross = verified.filter(col("rep_a") != col("rep_b"))
    comp_rep = component_walk(cross, "rep_a", "rep_b")
    self_only = (
        verified.filter(col("rep_a") == col("rep_b"))
        .select(col("rep_a").alias("node"))
        .join(comp_rep.select("node"), "node", "left_anti")
        .withColumn("component", col("node"))
    )
    rep_comp = comp_rep.unionByName(self_only)
    rep_ckey = rel.select(col("rep").alias("node"), "ckey")
    return (
        rep_comp.join(rep_ckey, "node")
        .join(keyed, "ckey")
        .select(col("doc_id").alias("node"), "component")
    )


def dedup_corpus(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The dedup pipeline's terminal step: the corpus with near-dup
    REMOVED, keeping the canonical (min-id) member of every cluster.

    Shape: rep-level components (:func:`doc_components`) → anti-join
    the non-canonical members out of the corpus. Docs in no cluster
    pass through untouched (they never enter the component graph). At
    scale the anti-join key is the doc id — one shuffle against a
    relation whose size is the number of DUPLICATES, not the corpus.
    """
    comp = doc_components(docs)
    losers = comp.filter(col("node") != col("component")).select(
        col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
