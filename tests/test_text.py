"""Text-pipeline scale-behavior tests.

The oracle-parity suite proves the text queries' VALUES; these tests
pin the scale properties — specifically that the winnowing hot-gram
document-frequency cap bounds candidate generation when a stock
phrase is shared across a large fraction of the corpus (the quadratic
hot-bucket risk at 100 TB).
"""

from __future__ import annotations

import pandas as pd

from pulsar_spark_spark.plans.text import winnow_pairs

STOP = "thanks for your order have a wonderful day and please come again"


def _stop_phrase_corpus(spark):
    rows = []
    # 30 docs whose ONLY overlap is the ubiquitous stop phrase
    for i in range(30):
        rows.append(
            (i, f"{STOP} unique{i}a filler{i}b content{i}c words{i}d here{i}e")
        )
    # one genuine overlapping pair: 8 shared tokens → 6 shared 3-grams
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows.append((100, f"{shared} xxa xxb xxc"))
    rows.append((101, f"{shared} yya yyb yyc"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_hot_gram_cap_bounds_candidates(spark):
    docs = _stop_phrase_corpus(spark)
    # stop-phrase grams have df=30 > cap=10 → pruned from both join
    # sides; the genuine pair's grams (df=2) survive. w=1 disables
    # winnowing so this pins the df cap in isolation.
    out = winnow_pairs(docs, min_shared=2, max_gram_df=10, w=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(100, 101)}
    assert out[0]["n_shared"] == 6


def test_without_cap_stop_phrase_goes_quadratic(spark):
    docs = _stop_phrase_corpus(spark)
    # uncapped, every stop-doc pair is a candidate: 30×29/2 pairs from
    # the phrase alone — the blow-up the cap exists to prevent
    out = winnow_pairs(docs, min_shared=2, max_gram_df=10_000, w=1).collect()
    assert len(out) == 30 * 29 // 2 + 1


# ---------------------------------------------------------------------
# true winnowing (round 10: window-minima fingerprint selection)
# ---------------------------------------------------------------------
def test_winnow_minima_expression_parity(spark):
    """The Spark window-minima expression must match a direct Python
    reference (and hence the DuckDB oracle's list-slice mirror):
    distinct minima over every window of w consecutive grams; short
    docs keep the global min; empty docs select nothing; w=1 is the
    identity (all distinct grams)."""
    from pyspark.sql.functions import col

    from pulsar_spark_spark.functions.text import winnow_minima

    cases = [
        (1, [5, 1, 4, 2, 8, 3]),
        (2, [7, 9]),
        (3, []),
        (4, [3, 3, 3, 3, 3]),
        (5, list(range(100, 0, -1))),  # strictly decreasing
        (6, [2, 2, 9, 1, 1, 7, 5, 5, 5, 0]),
    ]
    df = spark.createDataFrame(cases, "doc_id int, g array<bigint>")
    for w in (1, 3, 8):
        got = {
            r["doc_id"]: sorted(r["sel"])
            for r in df.select(
                "doc_id", winnow_minima(col("g"), w).alias("sel")
            ).collect()
        }
        for doc_id, g in cases:
            if not g:
                want = []
            elif w <= 1:
                want = sorted(set(g))
            elif len(g) < w:
                want = [min(g)]
            else:
                want = sorted(
                    {min(g[i : i + w]) for i in range(len(g) - w + 1)}
                )
            assert got[doc_id] == want, (doc_id, w)


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee: two documents sharing a run of ≥ w
    consecutive grams share ≥ 1 fingerprint. And the point of the
    exercise: the selected-fingerprint volume is a small fraction of
    the distinct grams (expected density 2/(w+1))."""
    import random

    from pulsar_spark_spark.plans.text import _WINNOW_W, pruned_grams

    rng = random.Random(10)
    # letters only: clean_text strips digits, so "tok123"-style vocab
    # would collapse every token to "tok"
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(500)
    ]
    shared = " ".join(rng.choice(vocab) for _ in range(30))
    docs = spark.createDataFrame(
        [
            (0, " ".join(rng.choice(vocab) for _ in range(300)) + " " + shared),
            (1, shared + " " + " ".join(rng.choice(vocab) for _ in range(300))),
        ],
        "doc_id long, text string",
    )
    out = winnow_pairs(docs, min_shared=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(0, 1)}
    # 30 shared tokens = 28 shared grams ≥ several windows of w=8:
    # expect ≥ 28·2/(w+1) − slack shared fingerprints, not just 1
    assert out[0]["n_shared"] >= 3
    n_winnowed = pruned_grams(docs).count()
    n_all = pruned_grams(docs, w=1).count()
    density = n_winnowed / n_all
    assert density < 2.0 * 2 / (_WINNOW_W + 1)  # ≲ 2× expected density
    assert density > 0.5 * 2 / (_WINNOW_W + 1)
    # the df cap is density-scaled under winnowing (raw cap at w=1):
    # winnowing divides each gram's df by ~(w+1)/2, so an unscaled cap
    # would revive boilerplate grams it exists to kill
    from pulsar_spark_spark.plans.text import _fp_cap

    assert _fp_cap(64, 1) == 64
    assert _fp_cap(64, 8) == 14
    assert _fp_cap(64, 3) == 32
    assert _fp_cap(8, 8) == 4  # floor


def test_dedup_corpus_keeps_canonical_per_cluster(spark):
    """The merged doc_dedup_clusters relation (round 8): its rows ARE
    the keep-set (cluster_id column == dedup_corpus output), cluster
    rows carry full membership with the min id as canonical, and
    singleton rows degenerate to (1, own id)."""
    from pulsar_spark_spark.plans import QUERIES
    from pulsar_spark_spark.plans.text import dedup_corpus
    from pulsar_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    rows = QUERIES["doc_dedup_clusters"](spark, SF_DIR).collect()
    expect_dropped = set()
    for r in rows:
        ids = sorted(int(x) for x in r["doc_ids"].split(","))
        assert r["cluster_id"] == ids[0]  # canonical = min id
        assert r["n_docs"] == len(ids)
        expect_dropped.update(ids[1:])
    kept = {r["doc_id"] for r in dedup_corpus(docs).select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept == all_ids - expect_dropped
    assert expect_dropped and expect_dropped.isdisjoint(kept)
    # the registered relation's row set IS the keep-set
    assert {r["cluster_id"] for r in rows} == kept
    assert any(r["n_docs"] > 1 for r in rows)  # real clusters present


# ---------------------------------------------------------------------
# near-dup skew guards (round-7: exact-dup collapse + band-bucket cap)
# ---------------------------------------------------------------------
def _copy_heavy_corpus(spark, n_copies=1000, n_distinct=50):
    """Adversarial crawl shard: n_copies exact copies of one page plus
    n_distinct unrelated docs — the shape that made the unguarded band
    self-join quadratic (all copies share all 4 bands)."""
    page = (
        "breaking news local weather sports scores traffic updates "
        "subscribe today for unlimited digital access to our journalism"
    )
    rows = [(i, page) for i in range(n_copies)]
    for j in range(n_distinct):
        # clean_text strips digits, so uniqueness must be alphabetic
        tag = "".join(chr(ord("a") + int(c)) for c in str(j).zfill(3))
        rows.append(
            (
                n_copies + j,
                f"entirely unrelated document number{tag} covering topic{tag} "
                f"with distinctive vocabulary item{tag}x item{tag}y item{tag}z",
            )
        )
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dup_collapse_bounds_candidates(spark):
    """1000 copies of one doc must contribute ONE banded representative
    and ONE (rep, rep) self-candidate — never 1000²/2 pairs through the
    band-join shuffle."""
    from pulsar_spark_spark.plans.text import near_dup_candidates

    docs = _copy_heavy_corpus(spark)
    keyed, sh, cand = near_dup_candidates(docs)
    assert sh.count() == 51  # one rep per unique text
    cands = [(r["rep_a"], r["rep_b"]) for r in cand.collect()]
    # the copy group appears exactly once, as its own self-candidate
    assert cands.count((0, 0)) == 1
    # total candidates bounded by unique-text pairs, not doc pairs
    assert len(cands) <= 51 * 50 // 2 + 1


def test_auto_band_plan_ladder(spark):
    """The corpus-adaptive banding ladder: floor through every
    oracle-gate corpus size, then tiers at the documented budget
    points (expected false candidates ≤ corpus size at J_bg=0.1)."""
    from pulsar_spark_spark.plans.text import auto_band_plan, resolve_band_plan

    assert auto_band_plan(500) == (16, 4, 4)  # sf0.01 gate
    assert auto_band_plan(5_000) == (16, 4, 4)  # sf0.1 bench
    assert auto_band_plan(20_000) == (16, 4, 4)
    assert auto_band_plan(50_000) == (60, 10, 6)  # 10x scale point
    assert auto_band_plan(500_000) == (96, 12, 8)  # 100x
    assert auto_band_plan(5_000_000) == (96, 12, 8)  # 1000x
    assert auto_band_plan(16_700_000) == (96, 12, 8)  # tier boundary
    assert auto_band_plan(16_700_001) == (160, 16, 10)
    assert auto_band_plan(2_000_000_000) == (240, 20, 12)  # past 1.25e9
    assert auto_band_plan(1_250_000_000) == (160, 16, 10)  # at the bound
    assert auto_band_plan(10**11) == (240, 20, 12)  # top tier open-ended
    # round 11: the recall-boost arm swaps ONLY the top tier for the
    # b-boosted plan (J=0.8 banding recall 0.76 -> 0.82, same r);
    # every ladder tier below the 1.25e9 bound is untouched
    assert auto_band_plan(2_000_000_000, recall_boost=True) == (288, 24, 12)
    assert auto_band_plan(10**11, recall_boost=True) == (288, 24, 12)
    for n in (500, 20_000, 500_000, 1_250_000_000):
        assert auto_band_plan(n, recall_boost=True) == auto_band_plan(n)
    # every ladder plan satisfies bands*rows == hashes
    from pulsar_spark_spark.plans.text import (
        BAND_PLANS,
        _TOP_PLAN,
        _TOP_PLAN_BOOSTED,
    )

    for _, (h, b, r) in BAND_PLANS + [(0, _TOP_PLAN), (0, _TOP_PLAN_BOOSTED)]:
        assert b * r == h
    # in-memory relations (no input files) pin to the floor
    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    assert resolve_band_plan(df, "auto") == (16, 4, 4)
    # the boost knob is reachable through the plan string (it only
    # differs from "auto" past the 1.25e9-doc top-tier bound, so the
    # in-memory floor resolution is identical)
    assert resolve_band_plan(df, "auto_boost") == (16, 4, 4)
    # malformed explicit plans fail loudly
    import pytest

    with pytest.raises(ValueError):
        resolve_band_plan(df, (16, 4, 5))
    # a string that is not exactly 'auto' must fail loudly too, not
    # fall through to tuple unpacking
    with pytest.raises(ValueError, match="accepted values"):
        resolve_band_plan(df, "Auto")


def test_arrow_kernel_multi_row_batch_interleaved_empties(spark):
    """Round-10 regression: in ONE multi-row Arrow batch, a non-empty
    doc immediately FOLLOWED by an empty doc must still get its exact
    min signature. The round-9 kernel zeroed empty rows' segment
    offsets, which degenerated the PRECEDING row's reduceat pair to a
    singleton — its signature became its first gram's value, not the
    min. Pinned through the fused band stage (_text_bands_arrow —
    bands are splitmix folds of the signatures, so any signature
    corruption changes them): bands of a text computed next to
    empties must equal bands of the same text in an empty-free batch.
    coalesce(1) forces one multi-row batch — tiny test frames
    otherwise arrive one row per batch and mask the interleaving."""
    from pulsar_spark_spark.plans.text import _text_bands_arrow

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),  # empty directly after a non-empty: the corruption case
        (3, "pack my box with five dozen liquor jugs"),
        (4, "sphinx of black quartz judge my vow tonight"),
        (5, ""),  # trailing empty: the out-of-bounds case
    ]
    rel = spark.createDataFrame(
        [(r, t.lower()) for r, t in texts], "rep long, ctext string"
    ).coalesce(1)
    clean_only = spark.createDataFrame(
        [(r, t.lower()) for r, t in texts if t],
        "rep long, ctext string",
    ).coalesce(1)
    mixed = {
        r["rep"]: (r["n"], tuple(r["bands"]))
        for r in _text_bands_arrow(rel, 60, 10, 6).collect()
    }
    alone = {
        r["rep"]: (r["n"], tuple(r["bands"]))
        for r in _text_bands_arrow(clean_only, 60, 10, 6).collect()
    }
    for rep in (1, 3, 4):
        assert mixed[rep] == alone[rep], rep
    assert mixed[2] == mixed[5]  # empties identical (all-sentinel)


def test_gram_engine_arrow_matches_expression_exactly(spark):
    """The round-10 Arrow gram/winnow engine must produce the EXACT
    (doc_id, g) set of the expression pipeline — same md5-per-token
    family, same positional mix, same window minima — across empty,
    null, short (<3 tokens and <w grams), duplicate, repeated-token,
    digit/punctuation-laced and non-ASCII texts, in ONE multi-row
    Arrow batch (coalesce(1)). Unlike the banding tiers this engine is
    oracle-visible, so exact equality is the contract, not a
    recall approximation."""
    import random

    from pulsar_spark_spark.plans.text import pruned_grams

    rng = random.Random(42)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(5))
        for _ in range(80)
    ]
    rows = [
        (1, " ".join(rng.choice(vocab) for _ in range(60))),
        (2, ""),  # empty
        (3, None),  # null
        (4, "one two"),  # <3 tokens -> no grams
        (5, "alpha beta gamma delta"),  # 2 grams < w -> global min
        (6, "Ünïcodé 123 text!! with   Punct & digits 42 mixed in"),
        (7, "repeat repeat repeat repeat repeat repeat repeat repeat"),
        (8, " ".join(rng.choice(vocab) for _ in range(60))),
    ]
    rows.append((9, rows[0][1]))  # exact duplicate of doc 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1)
    for w in (8, 1):
        want = {
            (r["doc_id"], r["g"])
            for r in pruned_grams(docs, w=w, engine="expr").collect()
        }
        got = {
            (r["doc_id"], r["g"])
            for r in pruned_grams(docs, w=w, engine="arrow").collect()
        }
        assert got == want, w
        assert want  # non-trivial
    # duplicate docs fingerprint identically
    by_doc: dict = {}
    for d, g in want:
        by_doc.setdefault(d, set()).add(g)
    assert by_doc[1] == by_doc[9]
    import pytest

    with pytest.raises(ValueError, match="accepted values"):
        pruned_grams(docs, engine="Arrow")


def test_arrow_bands_null_and_utf8_contract(spark):
    """The fused Arrow signature/banding stage's input contract, pinned
    (round-10 verdict item): NULL text behaves exactly like empty text
    (zero grams → all-sentinel signature → identical band keys, later
    dropped at the NULL-Jaccard verify); non-ASCII text hashes its
    UTF-8 BYTE 8-grams — checked against an independent pure-Python
    rolling-hash reference; and an all-null batch (Arrow may omit the
    data buffer entirely) must not crash."""
    import numpy as np

    from pulsar_spark_spark.functions.text import MINHASH_P, _mh_constants
    from pulsar_spark_spark.plans.text import (
        _band_matrix,
        _mh_sig_matrix,
        _text_bands_arrow,
    )

    def ref_gram_hashes(text: str) -> list[int]:
        bs = text.encode("utf-8")
        K, M = 8, MINHASH_P
        pows = [pow(1099511628211, j, 1 << 64) for j in range(K)]
        out = set()
        for i in range(len(bs) - K + 1):
            h = sum(bs[i + j] * pows[j] for j in range(K)) % (1 << 64)
            for _ in range(3):
                h = (h & M) + (h >> 31)
            if h >= M:
                h -= M
            out.add(h)
        return sorted(out)

    texts = [
        (1, None),
        (2, ""),
        (3, "abc"),  # shorter than K chars -> zero grams
        (4, "der schnelle braune fuchs springt über den faulen hund"),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the lazy dog"),  # dup of 5
    ]
    n_hashes, n_bands, rows_per_band = 60, 10, 6
    rel = spark.createDataFrame(texts, "rep long, ctext string")
    got = {
        r["rep"]: (r["n"], tuple(r["bands"]))
        for r in _text_bands_arrow(
            rel, n_hashes, n_bands, rows_per_band
        ).collect()
    }
    assert len(got) == 6
    # null ≡ empty ≡ too-short: zero grams, identical sentinel bands
    assert got[1][0] == got[2][0] == got[3][0] == 0
    assert got[1][1] == got[2][1] == got[3][1]
    # identical text -> identical (n, bands); distinct text -> distinct
    assert got[5] == got[6]
    assert got[4] != got[5]
    # non-ASCII row: n and bands match the independent byte-gram
    # reference fed through the module's own minhash/banding kernels
    consts = [_mh_constants(i) for i in range(n_hashes)]
    for rep, text in ((4, texts[3][1]), (5, texts[4][1])):
        hs = np.array(ref_gram_hashes(text), dtype=np.int64)
        assert got[rep][0] == len(hs)
        sig = _mh_sig_matrix(hs, np.array([0]), consts, 1)
        want_bands = tuple(
            int(x)
            for x in _band_matrix(sig, n_bands, rows_per_band)[:, 0].view(
                np.int64
            )
        )
        assert got[rep][1] == want_bands
    # all-null batch: no data buffer at all — must yield, not crash
    nulls = spark.createDataFrame(
        [(7, None), (8, None)], "rep long, ctext string"
    )
    out = _text_bands_arrow(nulls, n_hashes, n_bands, rows_per_band).collect()
    assert sorted(r["rep"] for r in out) == [7, 8]
    assert all(r["n"] == 0 for r in out)


def test_band_plans_agree_on_gate_fixture(spark):
    """Bigger banding plans are a candidate-generation change, not a
    semantics change: on the sf0.01 fixture every tier produces the
    identical verified pair set (deterministic md5 hashing; the exact
    verify is plan-independent). At the fixture's similarity profile
    no true pair is banding-marginal, so this pins tier equivalence
    where the oracle gate lives."""
    from pulsar_spark_spark.plans.text import near_dup_pairs
    from pulsar_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    floor = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(docs).collect()
    }
    tier2 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(docs, plan=(60, 10, 6)).collect()
    }
    assert floor and tier2 == floor


def test_exact_dup_fanout_emits_all_member_pairs(spark):
    """The collapse is an optimization, not a semantics change: every
    within-group pair must still come out, at jaccard 1.0."""
    from pulsar_spark_spark.plans.text import near_dup_pairs

    docs = _copy_heavy_corpus(spark, n_copies=60, n_distinct=10)
    out = near_dup_pairs(docs).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    want = {(a, b) for a in range(60) for b in range(a + 1, 60)}
    assert pairs == want
    assert all(r["jaccard"] == 1.0 for r in out)


def test_band_cap_drops_boilerplate_bucket(spark):
    """More than band_cap DISTINCT texts in one band bucket → the
    bucket is dropped from candidate generation (hot-template guard)."""
    from pulsar_spark_spark.plans.text import near_dup_candidates

    base = (
        "terms of service privacy policy cookie preferences copyright "
        "all rights reserved contact us careers advertise newsletter "
        "signup follow us on social media download our mobile app"
    )
    rows = [(i, f"{base} page{chr(ord('a') + i)}") for i in range(12)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    _, _, capped = near_dup_candidates(docs, band_cap=2)
    _, _, uncapped = near_dup_candidates(docs, band_cap=10_000)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    assert n_uncapped > 0  # near-identical texts do share band buckets
    assert n_capped < n_uncapped  # the cap trims the hot buckets


def test_dedup_clusters_rep_level_on_copy_heavy_corpus(spark):
    """Clusters over a copy-flooded corpus: the iterative CC graph
    sees ONE node for the 400-copy group (rep level), yet the output
    cluster contains all 400 members with the min id as label."""
    from pulsar_spark_spark.plans.text import (
        doc_components,
        verified_rep_pairs,
    )

    docs = _copy_heavy_corpus(spark, n_copies=400, n_distinct=20)
    _, _, verified = verified_rep_pairs(docs)
    # the whole verified relation is rep-level: one self-pair row for
    # the copy group, nothing quadratic
    v = [(r["rep_a"], r["rep_b"]) for r in verified.collect()]
    assert (0, 0) in v and len(v) <= 21
    comp = {r["node"]: r["component"] for r in doc_components(docs).collect()}
    assert {n for n in comp if comp[n] == 0} == set(range(400))


# ---------------------------------------------------------------------
# large-star/small-star CC (round 8: deep-graph scale path)
# ---------------------------------------------------------------------
def test_star_cc_path_graph_log_rounds(spark):
    """A 256-node path (diameter 255) — the chained-boilerplate shape —
    must fully converge in ~log2(diameter) star rounds, never
    O(diameter)."""
    from pulsar_spark_spark.plans.text import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "doc_a long, doc_b long"
    )
    stats = {}
    labels = connected_components_star(edges, stats=stats).collect()
    assert {r["node"] for r in labels} == set(range(256))
    assert all(r["component"] == 0 for r in labels)
    assert stats["rounds"] <= 12  # ~log2(255) + slack; O(diameter) = 255


def test_star_cc_matches_min_label_on_shallow_graph(spark):
    """Parity with min-label propagation on a multi-component graph
    (the near-dup regime both operators serve)."""
    import random

    from pulsar_spark_spark.plans.text import (
        connected_components_min_label,
        connected_components_star,
    )

    rng = random.Random(8)
    edges = []
    for base in range(0, 100, 10):  # 10 clique-ish components
        ids = list(range(base, base + 10))
        for _ in range(15):
            x, y = rng.sample(ids, 2)
            edges.append((x, y))
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = {
        (r["node"], r["component"])
        for r in connected_components_min_label(df).collect()
    }
    b = {
        (r["node"], r["component"])
        for r in connected_components_star(df).collect()
    }
    assert a == b
    # every label stays inside its own 10-id block (no cross merges)
    assert all(c // 10 == n // 10 for n, c in a)


def test_min_label_converges_in_one_round_on_shallow_graph(spark):
    """Round 14: the convergence check is seeded with the INIT labels'
    sum, so a graph whose nbr_min init already reaches the fixpoint
    (pairs/triangles — the near-dup common case) converges after ONE
    propagation round instead of paying a second full join round just
    to detect that nothing changed. max_iter=1 must therefore suffice
    where it previously raised."""
    from pulsar_spark_spark.plans.text import connected_components_min_label

    edges = spark.createDataFrame(
        [(1, 2), (5, 6), (5, 7), (6, 7)], "doc_a long, doc_b long"
    )
    stats = {}
    labels = {
        (r["node"], r["component"])
        for r in connected_components_min_label(
            edges, max_iter=1, stats=stats
        ).collect()
    }
    assert stats["rounds"] == 1
    assert labels == {(1, 1), (2, 1), (5, 5), (6, 5), (7, 5)}


def test_min_label_raises_beyond_iteration_budget(spark):
    """Exhausting max_iter must be LOUD (round 8), never silently
    wrong labels: a 30-hop chain cannot converge in 5 rounds."""
    import pytest as _pytest

    from pulsar_spark_spark.plans.text import connected_components_min_label

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_min_label(edges, max_iter=5)


def test_component_walk_auto_falls_back_to_star_on_deep_graph(
    spark, monkeypatch
):
    """cc='auto' (the registered queries' default since round 8) must
    survive a component deeper than min-label's budget by switching to
    the star walk instead of failing the pipeline — the 10×-scale
    rolled-replica embedding corpus hit exactly this. The round-15
    local-walk gate is pinned to 0 here so the DISTRIBUTED dispatch is
    what gets exercised (a 100-edge fixture would otherwise resolve on
    the driver and never touch the fallback)."""
    from pulsar_spark_spark.plans import text as T
    from pulsar_spark_spark.plans.text import (
        CCBudgetExceeded,
        component_walk,
        connected_components_min_label,
    )
    import pytest as _pytest

    monkeypatch.setattr(T, "_LOCAL_WALK_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    # sanity: the fast path alone really does exhaust its budget here
    with _pytest.raises(CCBudgetExceeded):
        connected_components_min_label(edges)
    labels = component_walk(edges).collect()
    assert {r["node"] for r in labels} == set(range(101))
    assert all(r["component"] == 0 for r in labels)
    with _pytest.raises(ValueError, match="min_label/star/auto"):
        component_walk(edges, cc="bogus")


def test_component_walk_auto_local_arm_matches_distributed(spark):
    """Round 15: under the edge bound, cc='auto' resolves by
    driver-local union-find — exactly the labels min-label produces,
    including self-loop-only node dropping and min-id components."""
    import random

    from pulsar_spark_spark.plans import text as T
    from pulsar_spark_spark.plans.text import (
        component_walk,
        connected_components_min_label,
    )

    rng = random.Random(15)
    pairs = [(rng.randrange(50), rng.randrange(50)) for _ in range(120)]
    pairs += [(7, 7)]  # self loop — dropped unless the node has cross edges
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    assert len(pairs) <= T._LOCAL_WALK_MAX_EDGES
    local = {
        (r["node"], r["component"]) for r in component_walk(edges).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components_min_label(edges).collect()
    }
    assert local == dist and local


def test_component_walk_auto_gate_evaluates_edges_once(spark):
    """The auto gate and the driver-local walk share ONE evaluation of
    an unmaterialized edge lineage: a counting UDF in the edge
    relation's filter sees each edge row exactly once."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import col
    from pyspark.sql.types import BooleanType

    from pulsar_spark_spark.plans.text import component_walk

    seen = spark.sparkContext.accumulator(0)

    def keep(_v):
        seen.add(1)
        return True

    n = 200
    edges = (
        spark.range(n, numPartitions=4)
        .filter(F.udf(keep, BooleanType())(col("id")))
        .select(col("id").alias("doc_a"), ((col("id") + 1) % 50).alias("doc_b"))
    )
    labels = component_walk(edges).collect()
    assert labels
    assert seen.value == n


def test_hot_bucket_stats_reports_what_cap_drops(spark):
    """The observability twin must surface exactly the over-cap
    buckets (the all-bands-hot recall trade is visible, not silent)."""
    from pulsar_spark_spark.plans.text import (
        cap_hot_buckets,
        hot_bucket_stats,
    )

    banded = spark.createDataFrame(
        [("hot", i) for i in range(5)] + [("cold", 99)],
        "band_key string, rep long",
    )
    stats = hot_bucket_stats(banded, ["band_key"], cap=3).collect()
    assert [(r["band_key"], r["n_rows"]) for r in stats] == [("hot", 5)]
    kept = cap_hot_buckets(banded, ["band_key"], cap=3).collect()
    assert {r["band_key"] for r in kept} == {"cold"}


def test_knob_branches_match_defaults(spark):
    """The A/B knobs' non-default branches (agg-mode cap, self-seed CC
    init) and the cc='star' wiring must produce exactly the default
    results — they exist for re-measurement, not as divergent
    semantics."""
    from pulsar_spark_spark.plans import text
    from pulsar_spark_spark.plans.text import doc_components, near_dup_candidates

    docs = _copy_heavy_corpus(spark, n_copies=30, n_distinct=12)
    want_cand = {
        (r["rep_a"], r["rep_b"])
        for r in near_dup_candidates(docs, band_cap=3)[2].collect()
    }
    want_comp = {
        (r["node"], r["component"]) for r in doc_components(docs).collect()
    }
    try:
        text._CAP_MODE = "agg"
        got_cand = {
            (r["rep_a"], r["rep_b"])
            for r in near_dup_candidates(docs, band_cap=3)[2].collect()
        }
        text._CC_INIT = "self"
        got_comp = {
            (r["node"], r["component"]) for r in doc_components(docs).collect()
        }
    finally:
        text._CAP_MODE = "window"
        text._CC_INIT = "nbr_min"
    assert got_cand == want_cand
    assert got_comp == want_comp
    star_comp = {
        (r["node"], r["component"])
        for r in doc_components(docs, cc="star").collect()
    }
    assert star_comp == want_comp


def test_docs_rows_count_fallback_opt_out(spark, tmp_path):
    """Round 13 ADVICE low: for a non-footer-countable source (CSV),
    _docs_rows(count_fallback=False) returns None WITHOUT running a
    counted scan and without poisoning the memo — a later counting
    caller still resolves the true count; pruned_grams with a pinned
    engine takes the safe spread default instead of paying the scan."""
    from pyspark.sql.functions import col

    from pulsar_spark_spark.plans.text import _docs_rows, pruned_grams

    path = tmp_path / "docs.csv"
    path.write_text(
        "doc_id,text\n1,alpha beta gamma delta\n2,beta gamma delta eps\n"
    )
    df = (
        spark.read.option("header", True)
        .csv(str(path))
        .select(col("doc_id").cast("long"), col("text"))
    )
    assert _docs_rows(df, count_fallback=False) is None
    # pinned engine on the uncountable source: builds without a scan
    # (spread defaults True) and still computes fingerprints
    assert pruned_grams(df, engine="expr").count() > 0
    # the None was not memoized: the counting path still resolves
    assert _docs_rows(df) == 2
