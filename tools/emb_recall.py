"""Measure embedding near-dup VERIFIED-PAIR recall at scale.

The bucket cap's recall trade is structurally invisible to the
oracle-parity gate (the DuckDB oracle mirrors the cap), and the
bounded-by-argument claim (occupancy ~cap/2 under auto_emb_bits) had
never been MEASURED — this tool closes that (round-9 item 5):

- production run:  emb_near_dup_pairs at the registered knobs
  (corpus-adaptive width via auto_emb_bits + the 64-per-bucket cap)
- reference run:   the same width UNCAPPED — isolates exactly what
  the cap drops
- ground truth:    numpy blocked all-pairs cosine >= the 0.35 verify
  threshold (float64), affordable through the 100x corpus — bounds
  the full pipeline (banding misses + cap) end to end
- observability:   hot_bucket_stats over the pre-cap banded relation
  (how many buckets are over-cap, and how hot the hottest is)

Writes ``emb_recall.json`` and rewrites the "Embedding-dedup recall"
section of SCALE.md. Usage:

    python tools/emb_recall.py            # sf0.1 + 10x + 100x
    python tools/emb_recall.py sf1        # filter scales by substring
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEM", "40g")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = [
    ("sf0.1", "/root/testdata/sf0.1", 1),
    ("sf1", os.path.join(ROOT, ".scale", "sf1"), 10),
    ("sf10", os.path.join(ROOT, ".scale", "sf10"), 100),
    # round 11: the 1000x point (2M vectors). numpy ground truth is
    # out of reach (truth cap below), so its row carries the
    # recall-vs-uncapped-same-width number only.
    ("sf100", os.path.join(ROOT, ".scale", "sf100"), 1000),
]
# numpy ground truth is 2*n^2*dim flops — fine to 200k vectors
# (~5 TFLOP, seconds under threaded BLAS), prohibitive at 2M for the
# FULL 0.35-floor sweep (the confirm volume explodes). The ≥0.9/≥0.99
# BANDS stay affordable at 2M (round-12 verdict item 2): the mask is
# sparse there, so the pass is pure GEMM (~2.6e14 FLOP, minutes under
# threaded BLAS) + a cheap bool scan — see _numpy_truth_band_counts.
TRUTH_MAX_ROWS = 250_000
TRUTH_BAND_MAX_ROWS = 2_500_000
BAND_STRATA = (0.9, 0.99)
_SEC_HEADER = "## Embedding-dedup recall at scale"


STRATA = (0.35, 0.9, 0.99)  # verify threshold / near-dup regime / copies


def _numpy_truth_pairs(sf_dir: str, thresh: float) -> "dict | None":
    """Per-stratum counts of UNORDERED member pairs with cosine >= t,
    by blocked float32 gemm + float64 confirmation of the survivors.
    Stratified because SRP-LSH recall is similarity-dependent by
    construction (per-bit agreement p = 1 - θ/π): the 4x8-bit stack
    targets the NEAR-DUP regime — recall at the 0.35 verify floor is
    structurally low and that is a design point to document, not a
    bug to fix with 20x more tables."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, "embeddings.parquet")
    files = [p] if os.path.isfile(p) else sorted(
        glob.glob(p + "/**/*.parquet", recursive=True)
    )
    mats, ids = [], []
    for f in files:
        t = pq.read_table(f, columns=["vec_id", "embedding"])
        ids.append(t["vec_id"].to_numpy())
        mats.append(np.array(t["embedding"].to_pylist(), dtype="float32"))
    m = np.vstack(mats)
    norms = np.linalg.norm(m.astype("float64"), axis=1)
    ok = norms > 0  # zero-norm vectors can never verify (NaN gate)
    m64 = m.astype("float64")[ok]
    mn = (m64 / norms[ok][:, None]).astype("float32")
    n = mn.shape[0]
    totals = {t: 0 for t in STRATA}
    B = 8192
    for i0 in range(0, n, B):
        a = mn[i0 : i0 + B]
        for j0 in range(i0, n, B):
            b = mn[j0 : j0 + B]
            sims = a @ b.T
            ii, jj = np.nonzero(sims >= thresh - 1e-4)
            gi, gj = ii + i0, jj + j0
            keep = gi < gj
            gi, gj = gi[keep], gj[keep]
            if len(gi):
                # float64 confirm near the threshold (the engine
                # verifies with a float64 sequential fold)
                va, vb = m64[gi], m64[gj]
                cs = np.round(
                    np.einsum("ij,ij->i", va, vb)
                    / (norms[ok][gi] * norms[ok][gj]),
                    6,
                )
                for t in STRATA:
                    totals[t] += int(np.count_nonzero(cs >= t))
    return totals




def _truth_band_cache_key(sf_dir: str) -> dict:
    """(size, mtime_ns) fingerprint of the embeddings fileset — truth
    counts are a pure function of the corpus, so an unchanged fixture
    must never pay the multi-TFLOP GEMM twice (round 13: the sf100
    sweep alone is ~40 min of BLAS)."""
    from pulsar_spark_spark.plans.similarity import _source_fingerprint

    return _source_fingerprint(sf_dir, "embeddings")


def _numpy_truth_band_counts(
    sf_dir: str, strata=BAND_STRATA, tile: int = 16384
) -> dict:
    """Exact per-stratum truth-pair COUNTS for the high-similarity
    bands, affordable at 2M vectors: blocked float32 GEMM over
    normalized vectors, a sparse ≥(min stratum − 1e-3) mask (near-dup
    pairs are rare up here, so the index materialization is cheap),
    then float64 round-6 confirmation of every masked pair — the same
    confirm rule as the engine's verify fold. The float32 cosine error
    at dim 64 is ~1e-6; the 1e-3 guard band is 1000× that.

    Results are cached per corpus fingerprint
    (``<sf_dir>/.truth_bands.json``): an unchanged fixture reads the
    committed counts back instead of re-running the GEMM."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    cache_path = os.path.join(sf_dir, ".truth_bands.json")
    want_key = _truth_band_cache_key(sf_dir)
    try:
        with open(cache_path) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == want_key and all(
            str(t) in cached.get("counts", {}) for t in strata
        ):
            return {t: cached["counts"][str(t)] for t in strata}
    except (OSError, ValueError):
        pass

    p = os.path.join(sf_dir, "embeddings.parquet")
    files = [p] if os.path.isfile(p) else sorted(
        glob.glob(p + "/**/*.parquet", recursive=True)
    )
    mats = []
    for f in files:
        t = pq.read_table(f, columns=["embedding"])
        for chunk in t["embedding"].chunks:
            flat = chunk.flatten().to_numpy(zero_copy_only=False)
            dim = len(chunk[0])
            mats.append(
                flat.reshape(len(chunk), dim).astype("float32")
            )  # arrow-native: to_pylist on 2M rows costs minutes
    m = np.vstack(mats)
    norms = np.linalg.norm(m.astype("float64"), axis=1)
    ok = norms > 0
    m64 = m.astype("float64")[ok]
    nrm = norms[ok]
    mn = (m64 / nrm[:, None]).astype("float32")
    n = mn.shape[0]
    lo = min(strata) - 1e-3
    totals = {t: 0 for t in strata}
    n_tiles = (n + tile - 1) // tile
    done = 0
    t_start = time.time()
    total_tiles = n_tiles * (n_tiles + 1) // 2
    # preallocated GEMM/mask buffers: a fresh 1 GB sims temp + 268 MB
    # bool temp per tile costs more in alloc/first-touch than the scan
    # itself (measured: nonzero-with-temps 2.25 s vs 0.54 s GEMM)
    simbuf = np.empty((tile, tile), dtype="float32")
    maskbuf = np.empty((tile, tile), dtype=bool)
    for i0 in range(0, n, tile):
        a = mn[i0 : i0 + tile]
        for j0 in range(i0, n, tile):
            b = mn[j0 : j0 + tile]
            sims = np.matmul(a, b.T, out=simbuf[: len(a), : len(b)])
            done += 1
            mask = np.greater_equal(
                sims, lo, out=maskbuf[: len(a), : len(b)]
            )
            # ≥0.9 pairs are RARE among random unit vectors: most
            # tiles are all-below-threshold — skip the
            # (single-threaded) index materialization + confirm
            if not mask.any():
                continue
            ii, jj = np.nonzero(mask)
            gi, gj = ii + i0, jj + j0
            keep = gi < gj
            gi, gj = gi[keep], gj[keep]
            if len(gi):
                cs = np.round(
                    np.einsum("ij,ij->i", m64[gi], m64[gj])
                    / (nrm[gi] * nrm[gj]),
                    6,
                )
                for t in strata:
                    totals[t] += int(np.count_nonzero(cs >= t))
        el = time.time() - t_start
        print(
            f"  truth-band sweep: {done}/{total_tiles} tiles, "
            f"{el:.0f}s elapsed, totals={totals}",
            flush=True,
        )
    try:
        with open(cache_path, "w") as fh:
            json.dump(
                {
                    "fingerprint": want_key,
                    "counts": {str(t): v for t, v in totals.items()},
                },
                fh,
            )
    except OSError:
        pass  # read-only fixture dir: recompute next time
    return totals


def _truth_pair_set(sf_dir: str, thresh: float):
    """(ids, {frozen (id_a, id_b) -> cos}) ground-truth pairs with
    float64-confirmed cosine >= thresh — the pair-level twin of
    :func:`_numpy_truth_pairs`, kept as an explicit set so the
    compaction experiment can restrict truth to each ingested prefix."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, "embeddings.parquet")
    files = [p] if os.path.isfile(p) else sorted(
        glob.glob(p + "/**/*.parquet", recursive=True)
    )
    mats, ids = [], []
    for f in files:
        t = pq.read_table(f, columns=["vec_id", "embedding"])
        ids.append(t["vec_id"].to_numpy())
        mats.append(np.array(t["embedding"].to_pylist(), dtype="float32"))
    vid = np.concatenate(ids)
    m = np.vstack(mats)
    order = np.argsort(vid)
    vid, m = vid[order], m[order]
    norms = np.linalg.norm(m.astype("float64"), axis=1)
    ok = norms > 0
    m64 = m.astype("float64")[ok]
    vid_ok = vid[ok]
    nrm = norms[ok]
    mn = (m64 / nrm[:, None]).astype("float32")
    n = mn.shape[0]
    pairs = {}
    B = 8192
    for i0 in range(0, n, B):
        a = mn[i0 : i0 + B]
        for j0 in range(i0, n, B):
            b = mn[j0 : j0 + B]
            sims = a @ b.T
            ii, jj = np.nonzero(sims >= thresh - 1e-4)
            gi, gj = ii + i0, jj + j0
            keep = gi < gj
            gi, gj = gi[keep], gj[keep]
            if len(gi):
                cs = np.round(
                    np.einsum("ij,ij->i", m64[gi], m64[gj])
                    / (nrm[gi] * nrm[gj]),
                    6,
                )
                sel = cs >= thresh
                for a_id, b_id, c in zip(vid_ok[gi[sel]], vid_ok[gj[sel]], cs[sel]):
                    pairs[(int(a_id), int(b_id))] = float(c)
    return vid, pairs


def compaction_recall(
    shard_size: int = 30_000,
    multiprobe: bool = False,
) -> dict:
    """Round 11 (VERDICT missing #2 / wrong #3): ingest the 100x
    corpus (200k vectors) through the pair-graph store in vec_id-order
    shards with ``auto_compact=True``, then a FINAL shard of PLANTED
    near-duplicates (every 20th organic vector, unit-sphere noise at
    ε=0.3 → cos ≈ 0.95), and after EVERY shard measure

    - the ≥0.9-band member-pair recall vs numpy float64 ground truth
      restricted to the ingested prefix. The organic corpus's ≥0.9
      pairs are all EXACT duplicates (isometry-aligned replicas) that
      the vkey collapse catches without banding, so the planted shard
      is the load-bearing evidence: its pairs are genuine near-dups
      (0.9 < cos < 1) whose discovery REQUIRES banding new candidates
      against reps ingested before every width re-band — recall OF
      FUTURE CANDIDATES at the migrated width, the exact hole the
      round-10 verdict named;
    - the shard's ingest wall plus the inner re-band wall
      (``compact_sec``, timed around compact_emb_pair_graph) —
      boundary shards absorb the synchronous O(n_unique) re-band, so
      compact_sec IS the inline-compaction stall to bound.

    Writes rows under emb_recall.json["compaction"].
    """
    import shutil
    import tempfile

    import numpy as np

    from pulsar_spark_spark.plans import similarity as S
    from pulsar_spark_spark.session import get_session
    from pulsar_spark_spark.sources.tables import load_table
    from pyspark.sql.functions import col

    sf_dir = os.path.join(ROOT, ".scale", "sf10")
    # organic matrix (vec_id-sorted) for the planted shard's sources
    import glob

    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, "embeddings.parquet")
    files = [p] if os.path.isfile(p) else sorted(
        glob.glob(p + "/**/*.parquet", recursive=True)
    )
    mats, idl = [], []
    for f in files:
        t = pq.read_table(f, columns=["vec_id", "embedding"])
        idl.append(t["vec_id"].to_numpy())
        mats.append(np.array(t["embedding"].to_pylist(), dtype="float64"))
    vid = np.concatenate(idl)
    m = np.vstack(mats)
    order = np.argsort(vid)
    vid, m = vid[order], m[order]
    n_total = int(vid.max()) + 1
    src_rows = np.arange(0, len(vid), 20)
    rng = np.random.default_rng(811)
    noise = rng.standard_normal((len(src_rows), m.shape[1]))
    src = m[src_rows]
    s_norm = np.linalg.norm(src, axis=1, keepdims=True)
    n_norm = np.linalg.norm(noise, axis=1, keepdims=True)
    ok = (s_norm[:, 0] > 0) & (n_norm[:, 0] > 0)
    planted = src[ok] + 0.3 * s_norm[ok] * (noise[ok] / n_norm[ok])
    planted_src_ids = vid[src_rows[ok]]
    planted_ids = n_total + np.arange(len(planted))
    # float64 planted-pair truth (cos(v, v+0.3||v||ĝ) ≈ 0.958 ± noise)
    p_cos = np.round(
        np.einsum("ij,ij->i", src[ok], planted)
        / (s_norm[ok][:, 0] * np.linalg.norm(planted, axis=1)),
        6,
    )
    planted_truth = {
        (int(a), int(b)): float(c)
        for a, b, c in zip(planted_src_ids, planted_ids, p_cos)
        if c >= 0.9
    }
    _ids, organic_truth = _truth_pair_set(sf_dir, 0.9)
    truth = {**organic_truth, **planted_truth}

    spark = get_session(app_name="emb_compaction_recall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, "embeddings", sf_dir)
    work = tempfile.mkdtemp(prefix="emb_graph_recall_")
    store = os.path.join(work, "store")
    rows = []
    # time the inline re-band separately from the rest of the ingest:
    # update_emb_pair_graph resolves compact_emb_pair_graph through
    # the module namespace, so a module-level wrap sees the auto call
    orig_compact = S.compact_emb_pair_graph
    last_compact = {"sec": None}

    def timed_compact(*a, **k):
        t0 = time.time()
        out = orig_compact(*a, **k)
        last_compact["sec"] = round(time.time() - t0, 1)
        return out

    S.compact_emb_pair_graph = timed_compact
    try:
        shards = [
            ("organic", lo, min(lo + shard_size, n_total))
            for lo in range(0, n_total, shard_size)
        ] + [("planted", n_total, n_total + len(planted))]
        prev_gen = 0
        for k, (kind, lo, hi) in enumerate(shards):
            if kind == "organic":
                batch = emb.filter(
                    (col("vec_id") >= lo) & (col("vec_id") < hi)
                )
            else:
                batch = spark.createDataFrame(
                    [
                        (int(i), [float(x) for x in v])
                        for i, v in zip(planted_ids, planted)
                    ],
                    "vec_id long, embedding array<double>",
                )
            last_compact["sec"] = None
            t0 = time.time()
            S.update_emb_pair_graph(batch, store, version=k, multiprobe=multiprobe)
            ingest_sec = round(time.time() - t0, 1)
            meta = S._read_graph_meta(store)
            stored = {
                (r["vec_a"], r["vec_b"]): r["cos_sim"]
                for r in S.read_emb_member_pairs(spark, store)
                .filter(col("cos_sim") >= 0.9)
                .collect()
            }
            t_pref = {pr for pr in truth if pr[1] < hi}
            hit = sum(1 for pr in t_pref if pr in stored)
            t_planted = {pr for pr in planted_truth if pr[1] < hi}
            hit_planted = sum(1 for pr in t_planted if pr in stored)
            rows.append(
                {
                    "shard": k,
                    "kind": kind,
                    "n_ingested": hi,
                    "n_bits": meta["n_bits"],
                    "banded_gen": meta["banded_gen"],
                    "rebanded_this_shard": meta["banded_gen"] != prev_gen,
                    "ingest_sec": ingest_sec,
                    "compact_sec": last_compact["sec"],
                    "truth_ge_0.9": len(t_pref),
                    "stored_ge_0.9": len(stored),
                    "recall_ge_0.9": (
                        round(hit / len(t_pref), 4) if t_pref else None
                    ),
                    "planted_truth": len(t_planted),
                    "planted_recall": (
                        round(hit_planted / len(t_planted), 4)
                        if t_planted
                        else None
                    ),
                }
            )
            prev_gen = meta["banded_gen"]
            print(json.dumps(rows[-1]), flush=True)
    finally:
        S.compact_emb_pair_graph = orig_compact
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    stalls = [r["compact_sec"] for r in rows if r["compact_sec"]]
    quiet = [r["ingest_sec"] for r in rows if not r["rebanded_this_shard"]]
    return {
        "corpus": "sf10 (100x, 200k vectors) + 10k planted near-dups",
        "multiprobe": multiprobe,
        "shard_size": shard_size,
        "shards": rows,
        "worst_compact_stall_sec": max(stalls, default=None),
        "worst_quiet_ingest_sec": max(quiet, default=None),
        "note": (
            "recall measured from the persisted store via "
            "read_emb_member_pairs after every shard; the planted "
            "final shard's recall is banding recall of NEW candidates "
            "against pre-re-band reps at the migrated width; "
            "compact_sec is the synchronous inline re-band wall "
            "inside the triggering ingest call."
        ),
    }


def main(filters) -> None:
    from pulsar_spark_spark.plans import similarity as S
    from pulsar_spark_spark.plans.text import hot_bucket_stats
    from pulsar_spark_spark.session import get_session
    from pulsar_spark_spark.sources.tables import load_table
    import pyspark.sql.functions as F
    from pyspark.sql.functions import col

    if "--compaction" in filters:
        mp = "--multiprobe" in filters
        comp = compaction_recall(multiprobe=mp)
        out = os.path.join(ROOT, "emb_recall.json")
        merged = {}
        if os.path.exists(out):
            with open(out) as f:
                merged = json.load(f)
        key = "compaction_multiprobe" if mp else "compaction"
        merged[key] = comp
        with open(out, "w") as f:
            json.dump(merged, f, indent=1)
        _rewrite_scale_md(merged)
        return

    results = {}
    for tag, sf_dir, mult in SCALES:
        if filters and not any(f in tag for f in filters):
            continue
        if not os.path.isdir(sf_dir) and not os.path.exists(sf_dir):
            continue
        spark = get_session(app_name=f"emb_recall_{tag}")
        spark.sparkContext.setLogLevel("ERROR")
        emb = load_table(spark, "embeddings", sf_dir)
        n_vecs = emb.count()
        bits = S.resolve_emb_bits(emb, None)

        from pulsar_spark_spark.operators.checkpoint import materialize

        # materialized so the strata/overlap counts below are cached
        # scans, and NOTHING is collected to the driver (the 100x
        # corpus verifies millions of pairs). Both arms of the
        # cap-isolation comparison PIN multiprobe=False (round 12: the
        # new auto default resolves to Hamming-1 probing at adaptive
        # widths, and the UNCAPPED probe-expanded join at 2M vectors
        # OOMs a 24g local heap — the exact-bucket pair keeps this
        # column comparable across rows); the auto/production arm is
        # measured separately below, capped.
        # the REGISTERED arm (multiprobe=None -> auto): differs from
        # exact-bucket only at adaptive widths. Counted FIRST and
        # dropped before the overlap join — each arm's plan pins its
        # upstream localCheckpoint blocks (keyed/reps/verified), and
        # three 2M-corpus arms alive at once starve execution memory
        # (the fat-checkpoint pathology, reproduced as a heap OOM at
        # sf100)
        # mirror the registered arm's full auto resolution (round 13:
        # recall floor AND collapse-rate skip — replica-dominated
        # corpora stay exact-bucket)
        collapse = S.emb_collapse_rate(emb)
        mp_auto = S._resolve_multiprobe(None, bits, S._EMB_TABLES, collapse)
        mp_strata = None
        mp_sec = n_mp_all = None
        if mp_auto:
            import gc

            t0 = time.time()
            mp = materialize(S.emb_near_dup_pairs(emb))
            n_mp_all = mp.count()
            mp_sec = round(time.time() - t0, 1)
            mp_strata = {
                t: mp.filter(col("cos_sim") >= t).count() for t in STRATA
            }
            del mp
            gc.collect()  # release the arm's checkpoint blocks
        t0 = time.time()
        prod = materialize(S.emb_near_dup_pairs(emb, multiprobe=False))
        n_prod_all = prod.count()
        prod_sec = round(time.time() - t0, 1)
        t0 = time.time()
        uncapped = materialize(
            S.emb_near_dup_pairs(emb, bucket_cap=1 << 30, multiprobe=False)
        )
        n_unc_all = uncapped.count()
        uncapped_sec = round(time.time() - t0, 1)
        n_overlap = prod.join(uncapped, ["vec_a", "vec_b"]).count()
        prod_strata = {
            t: prod.filter(col("cos_sim") >= t).count() for t in STRATA
        }
        unc_strata = {
            t: uncapped.filter(col("cos_sim") >= t).count() for t in STRATA
        }

        reps = (
            emb.select("vec_id", "embedding", S._emb_vkey().alias("vkey"))
            .groupBy("vkey")
            .agg(F.min_by("embedding", "vec_id").alias("embedding"))
        )
        banded = reps.select(
            F.explode(S._emb_tables_expr(S._EMB_TABLES, bits)).alias("tb")
        ).select(col("tb.tbl").alias("tbl"), col("tb.bucket").alias("bucket"))
        hot = hot_bucket_stats(banded, ["tbl", "bucket"], S._EMB_BUCKET_CAP)
        hot_rows = hot.collect()
        spark.stop()

        truth = (
            _numpy_truth_pairs(sf_dir, S._NEAR_DUP_COS)
            if n_vecs <= TRUTH_MAX_ROWS
            else None
        )
        if truth is None and n_vecs <= TRUTH_BAND_MAX_ROWS:
            # round 12: the ≥0.9/≥0.99 bands vs float64 truth at the
            # 1000× point — the 0.35 floor stays out of reach (and out
            # of the operating regime), its cell stays "—"
            band = _numpy_truth_band_counts(sf_dir)
            truth = {t: None for t in STRATA}
            truth.update(band)
        row = {
            "multiplier": mult,
            "n_vectors": n_vecs,
            "collapse_rate": round(collapse, 4),
            "multiprobe_auto": mp_auto,
            "n_bits": bits,
            "bucket_cap": S._EMB_BUCKET_CAP,
            "hot_buckets_over_cap": len(hot_rows),
            "hottest_bucket": max((r["n_rows"] for r in hot_rows), default=0),
            "pairs_prod": n_prod_all,
            "pairs_uncapped_same_width": n_unc_all,
            "recall_vs_uncapped": round(
                n_overlap / n_unc_all, 4
            ) if n_unc_all else 1.0,
            "prod_sec": prod_sec,
            "uncapped_sec": uncapped_sec,
        }
        if mp_strata is not None:
            row["pairs_multiprobe"] = n_mp_all
            row["multiprobe_sec"] = mp_sec

        if truth:
            for t in STRATA:
                key = f"ge_{t}"
                n_true = truth[t]
                row[f"truth_pairs_{key}"] = n_true
                row[f"recall_prod_{key}"] = (
                    round(prod_strata[t] / n_true, 4) if n_true else None
                )
                row[f"recall_uncapped_{key}"] = (
                    round(unc_strata[t] / n_true, 4) if n_true else None
                )
                if mp_strata is not None:
                    row[f"recall_multiprobe_{key}"] = (
                        round(mp_strata[t] / n_true, 4) if n_true else None
                    )
        results[tag] = row
        print(json.dumps({tag: row}))

    out = os.path.join(ROOT, "emb_recall.json")
    merged = {}
    if os.path.exists(out):
        with open(out) as f:
            merged = json.load(f)
    merged.update(results)
    with open(out, "w") as f:
        json.dump(merged, f, indent=1)
    _rewrite_scale_md(merged)


def _rewrite_scale_md(results: dict) -> None:
    """Idempotently (re)write the recall section at the end of
    SCALE.md from emb_recall.json — same single-source discipline as
    the bench slope notes."""
    path = os.path.join(ROOT, "SCALE.md")
    with open(path) as f:
        txt = f.read()
    if _SEC_HEADER in txt:
        txt = txt[: txt.index(_SEC_HEADER)].rstrip() + "\n"
    lines = [
        "",
        f"{_SEC_HEADER} (round 9, generated by tools/emb_recall.py)",
        "",
        "Verified-pair recall of the PRODUCTION knobs (auto_emb_bits +",
        "64-per-bucket cap): vs the same width UNCAPPED (isolates what",
        "the cap drops — the number the oracle-parity gate structurally",
        "cannot see), and vs numpy float64 brute-force ground truth,",
        "STRATIFIED by similarity (SRP recall is similarity-dependent",
        "by construction: per-bit agreement 1-θ/π, so recall at the",
        "0.35 verify floor is structurally low — the stack's operating",
        "regime is the ≥0.9 near-dup band). hot = over-cap (tbl,",
        "bucket) cells pre-cap.",
        "",
        "| scale | vectors | bits | hot | hottest | prod pairs | recall vs uncapped | recall@≥0.35 | recall@≥0.9 | recall@≥0.99 |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]

    def fmt(r, key):
        v = r.get(key)
        return "—" if v is None else v

    for tag, r in results.items():
        if tag.startswith("compaction"):
            continue
        lines.append(
            f"| {tag} ({r['multiplier']}x) | {r['n_vectors']} | {r['n_bits']} "
            f"| {r['hot_buckets_over_cap']} | {r['hottest_bucket']} "
            f"| {r['pairs_prod']} | {r['recall_vs_uncapped']} "
            f"| {fmt(r, 'recall_prod_ge_0.35')} "
            f"| {fmt(r, 'recall_prod_ge_0.9')} "
            f"| {fmt(r, 'recall_prod_ge_0.99')} |"
        )
    for tag, r in results.items():
        if tag.startswith("compaction") or "pairs_multiprobe" not in r:
            continue
        lines.append(
            f"\nAt {tag} the adaptive width ({r['n_bits']} bits) "
            "auto-enables Hamming-1 multiprobe (round 12) — the "
            "exact-bucket cells above keep the column comparable "
            "across rows; the REGISTERED arm measures pairs="
            f"{r['pairs_multiprobe']} ({r.get('multiprobe_sec')}s"
            ", capped)"
            + (
                f", recall@≥0.9 {fmt(r, 'recall_multiprobe_ge_0.9')}"
                f", recall@≥0.99 {fmt(r, 'recall_multiprobe_ge_0.99')}"
                if r.get("recall_multiprobe_ge_0.9") is not None
                else ""
            )
            + "."
        )
    for tag, r in results.items():
        if tag.startswith("compaction"):
            continue
        if (
            r.get("multiprobe_auto") is False
            and r.get("collapse_rate", 0) >= 0.5
        ):
            lines.append(
                f"\nAt {tag} the corpus-aware skip (round 13) keeps the "
                "registered arm EXACT-BUCKET despite the adaptive width "
                f"({r['n_bits']} bits): exact-collapse rate "
                f"{r['collapse_rate']} ≥ 0.5, i.e. the high-similarity "
                "mass is replicas the banding-independent vkey collapse "
                "already catches (recall@≥0.9 "
                f"{fmt(r, 'recall_prod_ge_0.9')}, ≥0.99 "
                f"{fmt(r, 'recall_prod_ge_0.99')} without probing; the "
                "round-12 multiprobe arm measured 6.3× candidate volume "
                "for identical recall on this corpus)."
            )
    comp = results.get("compaction")
    if comp:
        lines += [
            "",
            "### Recall through auto-compaction width boundaries "
            "(round 11, --compaction)",
            "",
            f"{comp['corpus']} ingested in vec_id-order shards of "
            f"{comp['shard_size']} with ``auto_compact=True``; after "
            "every shard the ≥0.9-band member-pair recall is measured "
            "FROM THE PERSISTED STORE vs numpy float64 truth over the "
            "ingested prefix. The organic ≥0.9 pairs are all exact "
            "duplicates (vkey-collapse arm, banding-independent); the "
            "final PLANTED shard (noise copies at cos≈0.95 of vectors "
            "spread across every earlier shard) is the load-bearing "
            "row: recall of genuinely-banded NEW candidates against "
            "reps stored before every width re-band. Shards marked ⟳ "
            "crossed a boundary; compact s is the synchronous inline "
            "re-band wall inside that ingest call (the stall bound).",
            "",
            "| shard | kind | ingested | bits | gen | ingest s "
            "| compact s | truth ≥0.9 | recall ≥0.9 | planted recall |",
            "|---|---|---|---|---|---|---|---|---|---|",
        ]
        for r in comp["shards"]:
            mark = " ⟳" if r["rebanded_this_shard"] else ""
            lines.append(
                f"| {r['shard']}{mark} | {r['kind']} | {r['n_ingested']} "
                f"| {r['n_bits']} | {r['banded_gen']} "
                f"| {r['ingest_sec']} | {r['compact_sec'] or '—'} "
                f"| {r['truth_ge_0.9']} | {r['recall_ge_0.9']} "
                f"| {r['planted_recall'] if r['planted_recall'] is not None else '—'} |"
            )
        lines.append(
            f"\nWorst inline compaction stall "
            f"{comp['worst_compact_stall_sec']} s (inside one ingest "
            f"call) vs worst quiet-shard ingest "
            f"{comp['worst_quiet_ingest_sec']} s."
        )
        if comp.get("analysis"):
            lines.append("\n" + comp["analysis"])
    comp_mp = results.get("compaction_multiprobe")
    if comp_mp:
        last = comp_mp["shards"][-1]
        lines += [
            "",
            "### Same experiment, multiprobe arm "
            "(`update_emb_pair_graph(multiprobe=True)`, round 11)",
            "",
            f"Planted-pair recall {last['planted_recall']} (vs "
            f"{comp['shards'][-1]['planted_recall'] if comp else '—'} "
            "exact-bucket) at the same widths/boundaries; planted-shard "
            f"ingest {last['ingest_sec']} s (the (n_bits+1)× probe-"
            "volume price). ≥0.9-band recall overall "
            f"{last['recall_ge_0.9']}.",
        ]
        if comp_mp.get("analysis"):
            lines.append("\n" + comp_mp["analysis"])
    lines.append("")
    with open(path, "w") as f:
        f.write(txt + "\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
