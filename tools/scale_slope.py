"""Measure the wall-time scale slope: sf0.1 -> sf1 (10x) -> sf10 (100x).

Runs the heaviest registered queries at the driver's sf0.1 and at
each 10x/100x dataset produced by ``tools/gen_scale.py`` (the sf10
point is optional — generate it with ``gen_scale.py 100
/root/repo/.scale/sf10``), min-of-RUNS per query per scale (the
bench.py methodology), and writes:

- ``SCALE.md``        — human-readable ratio table (committed)
- ``scale_slope.json``— machine-readable sidecar (committed; bench.py
                        surfaces it in its bench_notes line)

Interpretation: with Kx rows, a shuffle/agg/kernel-bound query should
grow ~<=Kx wall; fixed per-query overhead (~0.3-0.5 s planning +
task launch at this scale) pulls ratios below K for short queries.
A ratio >> K means a superlinear join blow-up — a bug to fix, not a
number to report.

Usage:  python tools/scale_slope.py [query-substring ...]
        python tools/scale_slope.py --render-only
          (regenerate SCALE.md from the committed scale_slope.json
           without re-measuring — for narrative-text edits)
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The engine's 8g default OOMs on execution memory at the 1000×
# point, but BIGGER IS NOT BETTER: localCheckpoint blocks are
# MEMORY_AND_DISK *deserialized*, so a large unified pool hoards huge
# scratch relations on-heap and GC-thrashes — winnow@100× measured
# 6.3s/6.8s/8.7s/12.4s/33.7s at 8g/16g/24g/32g/64g (min-of-2 each,
# same box). 16g still heap-OOMs doc_ngram_jaccard at 1000× under the
# wide shuffle profile; 24g is the smallest tested size that clears
# the whole suite. Respect an explicit override.
os.environ.setdefault("SPARK_DRIVER_MEM", "24g")

from pulsar_spark_spark.plans import QUERIES  # noqa: E402
from pulsar_spark_spark.session import get_session  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = ("sf0.1", "/root/testdata/sf0.1", 1)


def _engine_hash() -> str:
    """Content hash of the engine package (every .py under
    pulsar_spark_spark/), recorded per sidecar row. --merge-min's
    'identical code' precondition used to be purely user-asserted; a
    stale minimum captured before a perf regression would permanently
    mask that regression in SCALE.md. Now the merge REFUSES rows whose
    stored hash differs from the working tree's."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pulsar_spark_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]
SCALES = [
    ("sf1", os.path.join(ROOT, ".scale", "sf1"), 10),
    ("sf10", os.path.join(ROOT, ".scale", "sf10"), 100),
    # optional 1000× point for the dedup/ANN corpus family only —
    # generate with:  python tools/gen_scale.py 1000 .scale/sf100 --corpus-only
    ("sf100", os.path.join(ROOT, ".scale", "sf100"), 1000),
]

# sf100 started corpus-only (documents+embeddings); round 10 adds a
# streamed 1000× events table (gen_scale.py --events-only) so the
# kernel family gets a measured fourth decade too. The 1000× column
# covers: the serving/embedding rows (the adaptive-sizing story —
# auto bits/centroids — light at 2M vectors), since round 9 the two
# text-dedup worst offenders, and since round 10 the two kernel-bound
# worst 100× ratios (delivery_refinement, best_latlng). The text
# queries each spill tens of GB of shuffle/checkpoint scratch at
# 1000× — the per-query fresh session + the scratch-deletion wait
# below exist precisely so one query's cleanup cannot thrash the
# next query's timed window.
SF100_SUBSET = {
    "embedding_near_dup_pairs",
    "embedding_dedup_clusters",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "doc_near_dup_pairs",
    "doc_dedup_clusters",
    # round 9: the rest of the text-dedup family — their gram-join
    # candidates are df-cap bounded (linear), measured to confirm
    "doc_winnow_fingerprints",
    "doc_ngram_jaccard",
    # round 10: the kernel family's fourth decade (delivery_refinement
    # was the 100× WORST ratio; its "cores finally saturate at 100×"
    # explanation needs a measured point, not an extrapolation).
    # Requires events at 1000×:  python tools/gen_scale.py 1000
    # /root/repo/.scale/sf100 --events-only
    "delivery_refinement",
    "best_latlng_per_user",
    # round 11: the G8 twin (VERDICT stretch item) — cheap now that
    # the sf100 events table and the bucketed serve arm exist
    "delivery_refined_history",
    # round 11 (cont.): the REST of the heavy set — the fourth-decade
    # column is now complete, no "—" cells; these are the cheap
    # event/embedding rows (all ≤ ~12 s at 100×) that only ever
    # lacked a 1000× events table
    "event_attrs_quality",
    "geofence_containment",
    "user_sessions",
    "geotag_history_merge",
    "ann_topk_bruteforce",
    # round 11 (cont.): the G2/G3 cluster-score queries, added to the
    # heavy set once their kernels went batched (chord-band G3, flat
    # per-body matrix G2) — the last grouped-kernel family without
    # slope rows
    "cluster_score_per_user",
    "ping_cluster_score_per_user",
    # round 11 (cont.): the smart-address flagship (df-capped
    # posting-list join) — documents-bound
    "smart_address_candidates",
}

# The heaviest bench queries (r5 ordering) — every family with a
# nontrivial shuffle/kernel/join at scale.
HEAVY = [
    "delivery_refined_history",
    "delivery_refinement",
    "event_attrs_quality",
    "best_latlng_per_user",
    "doc_winnow_fingerprints",
    "doc_ngram_jaccard",
    "doc_dedup_clusters",
    "doc_near_dup_pairs",
    "geofence_containment",
    "user_sessions",
    "geotag_history_merge",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    # round 8: the embedding dedup family, measured once its skew
    # guards (exact collapse + multi-table banding + bucket cap) landed
    "embedding_near_dup_pairs",
    "embedding_dedup_clusters",
    # round 11 (cont.): the batched G2/G3 cluster-score queries
    "cluster_score_per_user",
    "ping_cluster_score_per_user",
    "smart_address_candidates",
]

# Round 7: the 100x column is measured for EVERY heavy query (the
# half-empty column was a round-6 verdict gap).
SF10_SUBSET = set(HEAVY)

RUNS = 2
RUNS_SF10 = 1  # single pass at 100x and 1000x — minutes per query


def _time_query(spark, name: str, sf_dir: str, runs: int) -> float:
    if name == "ann_topk_ivf":
        # index build is an offline step by the query's own contract;
        # warm the on-disk cache outside the timed region so the
        # measured slope is the PROBE slope
        from pulsar_spark_spark.plans.similarity import ensure_ivf_index

        ensure_ivf_index(spark, sf_dir)
    if name == "ann_topk_lsh":
        # round 8: the registered LSH query serves from the cached
        # layout too — same probe-slope discipline as IVF
        from pulsar_spark_spark.plans.similarity import ensure_lsh_index

        ensure_lsh_index(spark, sf_dir)
    floor = contextlib.nullcontext()
    if name in ("delivery_refinement", "delivery_refined_history"):
        # round 11: measure the BUCKETED serve arm at every decade
        # (including the sf0.1 base, so the slope is one arm's slope)
        # with the layout build outside the timed region — the same
        # offline-build discipline as the ANN indexes. This is the
        # recurring-rescore shape the reference runs every 120 min;
        # the plain arm's per-run shuffle+projection slope is the
        # pre-round-11 sidecar history.
        from pulsar_spark_spark.plans import kernels

        kernels.ensure_refinement_layout(spark, sf_dir)
        floor = mock.patch.object(kernels, "_REFINE_LAYOUT_FLOOR_ROWS", -1)
    if name == "geotag_history_merge":
        # round 12: measure the recurring-merge serve arm (deduped
        # state bucketed by user_id) at every decade with the layout
        # build outside the timed region — the same offline-build
        # discipline as the refinement arm above. The plain arm's
        # full-corpus two-window slope is the pre-round-12 history.
        from pulsar_spark_spark.plans import geo

        geo.ensure_geotag_state_layout(spark, sf_dir)
        floor = mock.patch.object(geo, "_GEOTAG_LAYOUT_FLOOR_ROWS", -1)
    with floor:
        best = float("inf")
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
    return best


def _stream_scale_lines() -> list:
    """Streaming-throughput-vs-state section from stream_scale.json
    (tools/stream_scale.py owns the sidecar; this renderer composes it
    into SCALE.md like the recall section)."""
    path = os.path.join(ROOT, "stream_scale.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        data = json.load(f)
    rows = data.get("rows", {})
    if not rows:
        return []
    labels = sorted(
        {(r["factor"], lbl) for per in rows.values() for lbl, r in per.items()}
    )
    lines = [
        "## Streaming throughput vs state cardinality "
        "(tools/stream_scale.py)",
        "",
        "The slope table above answers \"does the batch plan stay",
        "linear in rows\"; this one answers the streaming twin: does",
        "micro-batch throughput HOLD while the keyed state grows",
        "10×/100× (users 1.5k → 150k; the batch COUNT per stream is",
        "fixed by the benches' file-split construction, so rows/s",
        "across scales isolates per-row state cost from trigger",
        "overhead)? Same pipelines the driver's bench.py times at",
        "sf0.1 — but COLD single-pass captures (fresh session per",
        "cell), so the sf0.1 cells read below bench.py's warmed",
        "minima; compare ACROSS the row, not against the bench.",
        "A falling line is the sign the on-heap store is running out",
        "of road, and round 12 measured BOTH sides of it. At the 100×",
        "state point (sf10+rocksdb, --rocksdb) on-heap still wins:",
        "RocksDB runs session ×0.48 / geofence ×0.86 of the HDFS rows/s",
        "(JNI + serialization per access). The fourth-decade cells",
        "(sf100@budget, --budgeted: full ~1.5M-user state cardinality",
        "over a fixed uniform row budget, so the state-cost axis",
        "closes without pretending the volume axis fits the 600 s",
        "budget) then find the crossover: the geofence machine falls",
        "45.7k → 18.7k rows/s on-heap at 1.5M keys while RocksDB HOLDS",
        "39.1k → 19.6k and pulls AHEAD. Round 13 LOCATES it",
        "(sf100@midpoint, --midpoint: a ~500k-user hash-subset of the",
        "1000× corpus at the same 10M-row budget): 29.0k on-heap vs",
        "30.0k RocksDB — a dead heat — so the operational rule is",
        "flip to RocksDB once per-executor state cardinality",
        "approaches ~0.5M keys (session.py's provider comment carries",
        "the same rule). The sessionizer's fourth decade was a",
        "different wall entirely: ~1.2M tiny groups per micro-batch",
        "paying per-GROUP applyInPandasWithState overhead —",
        "store-independent (timeout under BOTH providers, <8.3k",
        "rows/s at ~3 events/user), and invisible at realistic",
        "events-per-user ratios (the 150k-key row upstream holds 100k",
        "rows/s at ~67 events/user). Round 13 REMOVES that wall with",
        "the JVM-native session_window arm (sf100@budget+native,",
        "--native; watermark-finality parity with the Python arm",
        "pinned in pytest): 374.2k rows/s over the same 10M-row /",
        "1.5M-key cell that timed out in Python — the Python arm",
        "remains the custom-stateful-operator demonstrator, the",
        "native arm is the gap-sessionization serve shape. Round 14",
        "closes the two walls that remained. (1) The geofence machine",
        "has no JVM-native twin (its transition walk needs per-key",
        "prev-geofence state across batches), so its high-cardinality",
        "wall — ~1.2M per-GROUP Python dispatches per batch, payloads",
        "of ~2 events — gets the other lever: the BUCKETED-STATE arm",
        "(sf*+bucketed, --bucketed; state keyed by hash(user_id) % B,",
        "one JSON state map and ONE Python dispatch per bucket per",
        "batch, the per-user change-point walk vectorized in numpy",
        "across the bucket's users; full row-set parity incl. the A10",
        "running count across a checkpoint restart pinned in pytest).",
        "The fourth-decade cell goes 18.7k/19.6k (hdfs/rocksdb",
        "per-user) → 52.0k rows/s at the same 1.5M-key budget sample,",
        "with a RISING four-decade line (2.5k → 26.0k → 46.3k →",
        "52.0k); at LOW cardinality the per-user arm stays the right",
        "default (per-key state I/O and timeouts beat dispatch",
        "amortization). (2) The native sessionizer's fourth-decade",
        "number no longer relies on the budget sample: the UNBUDGETED",
        "sf100+native cell runs the full 100M-row corpus at the full",
        "1.5M-key cardinality — 364.7k rows/s, within 3% of the",
        "budget sample's 374.2k, under the RocksDB provider (the",
        "corpus's ~95M barely-merging session windows are live state,",
        "far past the on-heap store's SIZE wall — it OOMs a 24g heap",
        "mid-stream — which is exactly the regime",
        "session.select_state_store's rule flips on; the Python arm",
        "times out there by construction at <8.3k rows/s).",
        "",
        "| stream | " + " | ".join(f"{lbl} rows/s" for _f, lbl in labels) + " |",
        "|---|" + "---|" * len(labels),
    ]
    for name in ("ingest", "session", "geofence"):
        per = rows.get(name, {})
        cells = []
        for _f, lbl in labels:
            r = per.get(lbl)
            if not r:
                cells.append("—")
            elif r.get("timed_out"):
                cells.append(f"timeout@{r.get('wall_sec')}s")
            else:
                cells.append(f"{r.get('rows_per_sec', 0):,}")
        lines.append(f"| {name} | " + " | ".join(cells) + " |")
    lines.append("")
    return lines


def main(filters) -> None:
    if "--render-only" in filters:
        # regenerate SCALE.md + summary fields from the committed
        # sidecar — no measurement, for narrative-text edits
        with open(os.path.join(ROOT, "scale_slope.json")) as f:
            _summarize_and_render(json.load(f)["queries"], SCALES)
        return
    scales = [s for s in SCALES if os.path.isdir(s[1])]
    if not scales:
        sys.exit("run tools/gen_scale.py first (missing .scale/sf1)")
    names = [
        n for n in HEAVY if not filters or any(f in n for f in filters)
    ]
    # The cluster-profile shuffle config for the big scale points:
    # start shuffles wide and let AQE coalesce by bytes. At cores-many
    # initial partitions a 1000× aggregate packs ~10⁷ rows into one
    # task's hash map and exhausts execution memory (measured OOM);
    # at sf0.1 the same wide setting costs 42% total bench wall
    # (per-task overhead), which is why it lives HERE and not in the
    # engine session defaults — a real deployment sets it per profile.
    # The doc corpus family's big-scale points run mapInArrow tiers —
    # on local[N] that is N JVM threads + N Python workers on N cores,
    # a ~25% oversubscription tax on the Arrow-dominated stages
    # (SCALE.md round 10). Rounds 10-11 measured them under a
    # session-wide halving of the task slots (since deleted), which
    # also DOUBLED their pure-JVM stage walls; since round 12
    # the tier plans cap their own Arrow-stage width per stage
    # (session.arrow_stage_width), so every query runs in the standard
    # full-width session and mixed pipelines get both stage shapes'
    # best.

    def cluster_session(name: "str | None" = None):
        return get_session(
            extra_conf={
                "spark.sql.adaptive.coalescePartitions."
                "initialPartitionNum": "256"
            }
        )

    from bench import _warm_python_workers

    # A filtered run MERGES into the existing sidecar (re-measuring
    # only the named queries) so SCALE.md never loses its other rows.
    # --merge-min additionally keeps the per-POINT minimum between the
    # new capture and the sidecar's existing row (ratios recomputed
    # from merged seconds): the single-pass 100×/1000× points run on a
    # shared-host VM whose contention measured ±2× between captures of
    # IDENTICAL code in one evening (round 10) — noise is one-sided,
    # so minima across captures is the bench.py min-of-N discipline
    # extended across sessions. The 'identical code' precondition is
    # ENFORCED (round 11): rows carry an engine-package content hash
    # and --merge-min refuses rows captured under different code —
    # run once without it to reset after an engine change.
    merge_min = "--merge-min" in filters
    filters = [f for f in filters if f != "--merge-min"]
    cur_hash = _engine_hash()
    results: dict = {}
    sidecar = os.path.join(ROOT, "scale_slope.json")
    if filters and os.path.exists(sidecar):
        with open(sidecar) as f:
            results = json.load(f).get("queries", {})
        results = {n: r for n, r in results.items() if n in HEAVY}
    if merge_min:
        stale = sorted(
            n
            for n in results
            if (not filters or any(f in n for f in filters))
            and results[n].get("engine_hash") != cur_hash
        )
        if stale:
            sys.exit(
                "--merge-min refused: engine package changed since these "
                f"sidecar rows were captured ({', '.join(stale)}). Run once "
                "WITHOUT --merge-min to reset them, then merge later "
                "captures of the same code."
            )
    # ALL sf0.1 bases first, in ONE clean session (round 10): a base
    # pass measured inside the per-query session runs right after the
    # PREVIOUS query's 1000× scratch cleanup (tens of GB of async
    # deletes) and captured ×3-inflated walls — e.g. a 1.5 s base read
    # 5.1 s, flipping its 10× ratio below 1. Bases are tiny (sf0.1),
    # so one warmed session up front measures them all before any
    # big-scale churn exists.
    spark = cluster_session()
    _warm_python_workers(spark)
    bases = {name: _time_query(spark, name, BASE[1], RUNS) for name in names}
    spark.stop()
    for name in names:
        # Fresh session PER QUERY for the scale points: a long-lived
        # session accumulates localCheckpoint blocks and AQE/listener
        # state across the suite — measured as a hard JVM heap OOM at
        # a 1000× point that the same query passed comfortably in a
        # fresh session. Per-query isolation also removes cross-query
        # cache effects from the numbers; ~10 s restart + worker
        # re-warm per query is outside every timed region.
        spark = cluster_session(name)
        _warm_python_workers(spark)
        t_base = bases[name]
        rec = {f"{BASE[0]}_sec": round(t_base, 3)}
        for label, sf_dir, factor in scales:
            if label == "sf10" and name not in SF10_SUBSET and not filters:
                continue
            if label == "sf100" and name not in SF100_SUBSET:
                continue
            runs = RUNS if label == "sf1" else RUNS_SF10
            t = _time_query(spark, name, sf_dir, runs)
            rec[f"{label}_sec"] = round(t, 3)
        if merge_min and name in results:
            old = results[name]
            for key in list(rec):
                if key.endswith("_sec") and key in old:
                    rec[key] = min(rec[key], old[key])
            t_base = rec[f"{BASE[0]}_sec"]
        for label, _d, _f in scales:
            if f"{label}_sec" in rec:
                rec[f"{label}_ratio"] = (
                    round(rec[f"{label}_sec"] / t_base, 2) if t_base else None
                )
        rec["engine_hash"] = cur_hash
        results[name] = rec
        parts = [f"{name:28s} {t_base:7.2f}s"]
        for label, _d, _f in scales:
            if f"{label}_sec" in rec:
                parts.append(
                    f"-> {rec[f'{label}_sec']:8.2f}s (x{rec[f'{label}_ratio']:.2f})"
                )
        print(" ".join(parts))
        spark.stop()
        # The stopped context's shuffle/checkpoint scratch (tens of GB
        # after a big scale point) is deleted asynchronously; if the
        # delete overlaps the next query's timed window it thrashes
        # the disk (measured: a 2 s base query read 18 s). Wait it out.
        import glob as _glob
        import time as _time

        deadline = _time.time() + 300
        while _glob.glob("/tmp/blockmgr-*") and _time.time() < deadline:
            _time.sleep(2)

    _summarize_and_render(results, scales)


def _summarize_and_render(results: dict, scales) -> None:
    summary: dict = {
        "scales": (
            "sf0.1 (17 MB) base; 10x/100x (and optional corpus-only "
            "1000x) datasets from tools/gen_scale.py"
        ),
        "runs_per_point": RUNS,
        "queries": results,
    }
    for label, _d, factor in scales:
        ratios = [
            r[f"{label}_ratio"]
            for r in results.values()
            if f"{label}_ratio" in r
        ]
        if not ratios:
            continue
        geo = 1.0
        for r in ratios:
            geo *= r
        geo **= 1.0 / len(ratios)
        summary[f"geomean_ratio_{label}"] = round(geo, 2)
        summary[f"worst_ratio_{label}"] = round(max(ratios), 2)
        summary[f"data_factor_{label}"] = factor
    # keep the field names bench.py reads (the 10x point)
    summary["geomean_ratio"] = summary.get("geomean_ratio_sf1")
    summary["worst_ratio"] = summary.get("worst_ratio_sf1")
    with open(os.path.join(ROOT, "scale_slope.json"), "w") as f:
        json.dump(summary, f, indent=1)

    # scale columns present in the results (sf100 appears only when
    # its dataset exists and corpus-family queries were measured)
    col_scales = [
        (label, factor)
        for label, _d, factor in SCALES
        if any(f"{label}_sec" in r for r in results.values())
    ]
    have_sf10 = any("sf10_sec" in r for r in results.values())
    arrow_title = " → ".join(
        ["sf0.1"] + [f"{f}×" for _l, f in col_scales]
    )
    lines = [
        f"# SCALE — measured wall-time slope ({arrow_title})",
        "",
        "Datasets from `tools/gen_scale.py` (events ×K users at",
        "constant per-user density; documents OPEN-VOCABULARY since",
        "round 11 — Zipf-Mandelbrot vocabulary growing with the",
        "corpus plus planted near-duplicates (2%) and containments",
        "(1%), replacing the word-shuffled replicas whose ~31-word",
        "vocabulary went entirely hot at 100×/1000×, emptied the",
        "df-capped candidate set, and left the winnow/ngram slope",
        "rows timing map machinery over ~zero join volume — the",
        "round-10 verdict's lead caveat; every doc row now carries",
        "LIVE candidate volume at every decade (e.g. winnow pairs",
        "1144 at 10×, ~linear beyond). Embeddings stay ×K isometric",
        "replicas; documents and",
        "embeddings written in 20k-row groups since round 8 so scans",
        "parallelize like a real multi-file corpus — the earlier",
        "single-row-group files made every documents/embeddings scan",
        "a one-task stage, an artifact, not a workload). Timing: min",
        f"of {RUNS} isolated passes per point (single pass at",
        "100×/1000× — and where a single-pass point was re-captured,",
        "the committed value is the per-point MINIMUM across captures",
        "of identical code: the shared-host VM measured ±2× between",
        "same-evening captures, noise is one-sided, and minima is the",
        "bench min-of-N discipline extended across sessions; the",
        "tool's --merge-min flag automates it). Python workers",
        "pre-warmed, cache cleared",
        "between passes — the bench.py methodology, but under the",
        "CLUSTER shuffle profile (AQE initialPartitionNum 256 so",
        "stages size by bytes, 16g heap): cores-many partitions pack",
        "~10⁷ rows into one aggregate task at 1000× and OOM, while",
        "the toy-scale bench.py keeps the narrow local profile (42%",
        "faster at sf0.1, where per-task overhead dominates). One",
        "profile per table — ratios compare like with like.",
        "",
        "With K× rows, linear-work queries should land ≤K×; fixed",
        "per-query overhead (~0.3–0.5 s planning + task launch) pulls",
        "short queries well below K×. Anything ≫K× would flag a",
        "superlinear join. Round 9 caught exactly one: the text-dedup",
        "family's last decade ran ×26 wall for ×10 data because a",
        "FIXED MinHash banding plan has a constant false-candidate",
        "probability PER DOCUMENT PAIR (~b·J_bg^r at the corpus's",
        "background similarity) — candidate count grows with the",
        "square of the corpus (profiled: 1.58 M candidates from 500 k",
        "docs at 100×, 252 surviving the exact verify;",
        "tools/profile_neardup.py). Fixed by the corpus-adaptive",
        "banding ladder (plans/text.py auto_band_plan — more hashes ×",
        "more rows-per-band as the corpus grows, floored at the",
        "oracle config through 20 k docs so every gate/bench corpus",
        "keeps the committed plan); last decades now ×6–9 for ×10",
        "data. Round 10 attacked the winnow/ngram rows (were",
        "×15/decade in the fourth decade) with TRUE winnowing:",
        "window-minima fingerprint selection (w=8, a pure per-row",
        "expression — no window function) cuts the (doc, gram) volume",
        "~4.4× through the explode, df agg, checkpoint and both",
        "self-join sides. Two coordinated fixes made it actually pay:",
        "(a) gram hashes are now derived from PER-TOKEN md5 hashes by",
        "an integer positional mix (the per-gram concat+md5 was the",
        "measured dominant map cost, not the join), and (b) the df",
        "cap is density-scaled under winnowing (2·cap/(w+1) ≈ 14):",
        "winnowing divides every gram's df by ~(w+1)/2, so the raw",
        "cap REVIVED boilerplate grams it used to kill — measured at",
        "100×: post-cap rows 72k → 150k and join pairs 0.96M → 2.46M",
        "with the unscaled cap, vs 27k rows / 96k pairs (10× below",
        "the round-9 shape) with the scaled one. Post-fix decomposition",
        "at 1000×: the fingerprint map stage (tokenize + md5-per-token",
        "+ gram mix + winnow + df agg) is ~95% of the wall and scales",
        "linearly; the self-join + pair agg is ~2 s on 18k capped",
        "rows — the round-9 spill term is gone, so the shuffle-sizing",
        "stretch item is moot and the remaining cost is",
        "embarrassingly parallel map work a cluster divides evenly.",
        "",
        "| query | sf0.1 (s) | "
        + " | ".join(f"{f}× (s) | ratio" for _l, f in col_scales)
        + " |",
        "|---|---|" + "---|---|" * len(col_scales),
    ]
    for name, r in sorted(
        results.items(), key=lambda kv: -(kv[1].get("sf1_ratio") or 0)
    ):
        row = f"| {name} | {r['sf0.1_sec']:.2f} |"
        for label, _f in col_scales:
            if f"{label}_sec" in r:
                row += f" {r[f'{label}_sec']:.2f} | ×{r[f'{label}_ratio']:.2f} |"
            else:
                row += " — | — |"
        lines.append(row)
    lines += [
        "",
        "Reading the table: `ann_topk_ivf` is measured as the",
        "round-7 serving shape — the on-disk index is built (cached)",
        "OUTSIDE the timed region, so its slope is the partition-",
        "pruned probe slope. `doc_near_dup_pairs`/`doc_dedup_clusters`",
        "carry the round-7 skew guards (exact-text collapse + band-",
        "bucket cap), which bound per-bucket candidate work as the",
        "corpus grows dirtier, plus the round-9 adaptive banding",
        "plan — (60,10,6) at 10×, (96,12,8) at 100×/1000× — which",
        "keeps the CROSS-bucket false-candidate count linear in the",
        "corpus; `embedding_near_dup_pairs`/`_clusters`",
        "carry the round-8 port of the same guards (exact-embedding",
        "collapse + 4×8-bit SRP tables + per-bucket cap); the shingle",
        "stage hashes PRE-CLEANED text projected as a real column",
        "(cleaning inline inside the transform lambda re-ran the regex",
        "once per shingle — 3.9× the stage wall, fixed round 8).",
        "`ann_topk_lsh` serves from its cached on-disk layout like",
        "IVF (round 8). A local[32] artifact worth naming: during the",
        "adaptive tiers' mapInArrow stages, 32 JVM task threads PLUS",
        "32 Python workers share 32 logical cores — measured round",
        "10: the 1000× signature/banding stage runs 84 s on local[32]",
        "but 63 s on local[16] (16+16 matches capacity). Rounds 10-11",
        "paid for that with a session-wide slot-halving knob that also",
        "DOUBLED the same pipelines' pure-JVM stage walls; round 12",
        "replaced it with per-stage widths (session.arrow_stage_width:",
        "only the mapInArrow stage inputs repartition to slots/2, the",
        "JVM hv recompute respreads to full width) and re-measured the",
        "family in ONE standard full-width session — the doc rows",
        "above, 1000×: near_dup 186.0→113.6 s, dedup_clusters",
        "219.0→138.3 s, winnow 71.0→40.7 s, ngram 78.9→58.3 s",
        "(×0.57-0.74, far outside the ±15-20% capture noise), with the",
        "dominant Arrow stage pinned at 16 concurrent tasks and the",
        "JVM stages at 27-64 in the same run (profile_arrow.json). A",
        "real cluster sizes executor cores with Python workers in",
        "mind; the per-stage width is the local-mode equivalent. Kernel-bound queries (delivery_*,",
        "best_latlng): their 10×/100× ratios track core headroom, and",
        "the fourth-decade points settle the previously extrapolated",
        "story — once 100× more users saturate all 32 cores, the NEXT",
        "decade is linear-or-better (round 11: delivery ×5.4,",
        "refined_history ×9.8 wall for ×10 data at 1000×): the",
        "per-user kernel is one shuffle into applyInPandas with no",
        "cross-user coupling, so a 1000-executor cluster flattens",
        "these ratios by spreading exactly that shuffle. Round 11 cut",
        "the delivery walls TWICE. First the BUCKETED serve arm",
        "(layout built untimed like the ANN indexes; arm pinned at",
        "every decade so the slope is one arm's): 1000× 399→329 s —",
        "the deleted shuffle+projection was ~20% of the wall. Then",
        "the other ~80% was profiled INSIDE the Python kernel and",
        "~75% of that was Vincenty DISPATCH, not math: the DBSCAN",
        "walk paid a scalar-Python call per queried pair (1.48M at",
        "10×) and cluster scoring a tiny-array numpy call per cluster",
        "(101k × ~290 µs of pure numpy overhead). The batched path",
        "now computes every delivery's pairwise matrix in ONE",
        "vectorized call per Arrow body and the walk/scoring read",
        "precomputed entries — bit-identical values (vincenty_np ≡",
        "vincenty_py by construction, gate re-verified), 1000×",
        "329→148 s and refined_history 378→158 s (2.7×/2.4×",
        "cumulative vs round 10). RATIOS still read high because the",
        "base shrank even more (0.88 s — fixed costs dominate); read",
        "the seconds for the effect. A THIRD round-11 pass attacked",
        "the Vincenty math itself, three layers, all bit-identical by",
        "construction and gate-re-verified: (1) vincenty_np now",
        "evaluates in 64k-element cache-resident chunks (one giant",
        "flat call measured 1630 ns/elt vs 320 chunked — the",
        "iterative loop's ~20 temporaries fall out of cache past",
        "~100k elements); (2) the G1 batch kernel evaluates only",
        "upper-triangle pairs and classifies each against the 300 m",
        "cut by a chord² band test on per-point unit vectors (~8",
        "flops/pair, zero transcendentals; exact Vincenty only inside",
        "the ambiguous [250,350] m ring — 0.02% of pairs; band sound",
        "by the ±0.56% ellipsoid-vs-sphere curvature bound vs the",
        "band's ±17% allowance); (3) the G4 trim loop runs in",
        "LOCKSTEP across a body's deliveries (trimmed_centroid_batch:",
        "one Vincenty dispatch per trim iteration per body instead of",
        "one per delivery — ~300 µs/call of tiny-array overhead,",
        "1.1 s of the 3.2 s walk at 10×). Measured at 1000×:",
        "best_latlng 298→81 s, delivery_refinement 148→63 s (63.3 s =",
        "5.4×/2.3× cumulative vs the round-11 open). refined_history",
        "150.9 s barely moved — its wall is now the G8 merge stage,",
        "not the refinement kernel. Round 12 closed the two remaining",
        "slope suspects with a stage decomposition",
        "(tools/profile_merge.py, profile_merge.json).",
        "geotag_history_merge: the dedup window IS the wall (48.2 of",
        "49.8 s at 100M rows — the full-corpus 4-key shuffle+sort;",
        "the round-11 sidecar's 65.1 s / ×11.6 row included one-sided",
        "host noise, re-measured full query ×6.9). The fix is the",
        "SERVE shape: the row above now measures the bucketed",
        "recurring-merge arm (state stored DEDUPED — every unique",
        "(user,lat,lng,accuracy) triple with its first-occurrence",
        "(ts,event_id) — bucketed by user_id; merge = full-outer",
        "min(struct) join + cap window; layout floor patched,",
        "layout built untimed): the state side carries ZERO Exchange",
        "(pinned in tests/test_bucketed.py), the corpus never",
        "re-shuffles, 1000× 65.1→19.6 s, last decade ×3.0.",
        "user_sessions: the decomposition shows the query IS its one",
        "native session_window shuffle (session_agg ≈ full in every",
        "cell), and the per-stage REST capture at 1000× root-causes",
        "the ×12 last decade as single-box memory pressure, not plan",
        "shape: the reduce sort spills 7.9 GB memory / 0.78 GB disk",
        "at 100M rows (zero at 10M), while the map side (scan +",
        "2.0 GB shuffle write) is flat-linear. Sessions barely merge",
        "on this corpus (95.5M sessions from 100M events), so",
        "map-side session merging cannot shrink the shuffle; a",
        "cluster's linearly-smaller per-task partitions remove the",
        "spill term — no plan defect to fix.",
        "Round 14 decomposed the last un-attributed slope,",
        "smart_address_candidates' ×86 at 1000×",
        "(tools/profile_address.py, profile_address.json): at the",
        "last decade (×10 data) every stage is at-or-under linear —",
        "scan+gate ~flat (2.9→2.5 s), gram explode ×7.1 (10.9→77.5 s",
        "for 31M→312M gram rows), its DISK_ONLY checkpoint ×8.0,",
        "posting-frequency agg ×9.3 (13.5→125.7 s), probe⋈postings",
        "pair aggregate ×11.1 (11.1→123.4 s), full ×13.3 — so the ×86",
        "cumulative number is the transition OUT of fixed overhead",
        "(×3.4 at 10×) times a large per-doc density constant (~620",
        "hashed 2-/3-gram rows per doc), not a super-linear term: the",
        "only above-×10 stage, the pair aggregate, is the df-capped",
        "candidate shard filling toward its 64-per-gram bound.",
        "Linear-with-constant, no plan defect — the cluster path",
        "shards the same gram-keyed shuffles by the gram hash.",
    ]
    lines.append("")
    tail = (
        f"**10×: geomean ×{summary.get('geomean_ratio_sf1')}, "
        f"worst ×{summary.get('worst_ratio_sf1')}**"
    )
    if have_sf10:
        tail += (
            f" — **100×: geomean ×{summary.get('geomean_ratio_sf10')}, "
            f"worst ×{summary.get('worst_ratio_sf10')}** (all heavy queries, single pass)"
        )
    if summary.get("geomean_ratio_sf100") is not None:
        tail += (
            f" — **1000×: geomean ×{summary.get('geomean_ratio_sf100')}, "
            f"worst ×{summary.get('worst_ratio_sf100')}** (corpus + kernel "
            "families, single pass; the kernel rows saturate 32 cores at "
            "100× and grow linear-or-better in their LAST decade)"
        )
    lines += [tail + ".", ""]
    lines += _stream_scale_lines()
    # Compose, don't clobber: SCALE.md also carries the recall section
    # maintained by tools/emb_recall.py — re-append it from its own
    # sidecar after rewriting the slope content (each tool owns one
    # section, both idempotent, either can run last).
    with open(os.path.join(ROOT, "SCALE.md"), "w") as f:
        f.write("\n".join(lines))
    recall_sidecar = os.path.join(ROOT, "emb_recall.json")
    if os.path.exists(recall_sidecar):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from emb_recall import _rewrite_scale_md

        with open(recall_sidecar) as f:
            _rewrite_scale_md(json.load(f))
    print("\n" + tail + " -> SCALE.md + scale_slope.json")


if __name__ == "__main__":
    main(sys.argv[1:])
