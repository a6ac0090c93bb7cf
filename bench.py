#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "uncached_value": N, "uncached_queries": {...}, "sf": ...}

Timing (time_query) is per-query wall clock of plan construction +
execution to a noop write (results are not collected to the driver - the
action materializes the full result like the driver's hash would), best
of three runs, matching BASELINE.md's warm DuckDB numbers.

Sweeps, each a `sweep` over fixed ids at one fixture dir: warm
(`queries`, base tables pre-cached - catalog.py restores the multi-core
scan parallelism the single-row-group fixtures deny); uncached
(`uncached_queries`, plain cold parquet scans in the warm JVM); lo (one
decade down, when that dir exists); hi (one decade up,
SPARK_GRAFT_SF_HI_DIR, default testdata_sf1/sf1); sf3 (the banded
production paths a half-decade further, SPARK_GRAFT_SF3_DIR, default
testdata_sf3/sf3); rotation (SPARK_GRAFT_ROTATE_N non-headline oracled
ids at the base and hi scales, folded into tools/growth_ledger.json for
sf0.1 -> sf1 only).  ensure_fixtures generates the sf1/sf3 dirs on first
use from the matching source scale.  Every growth exponent is `growth`'s
floor-adjusted log-log slope, judged by one rule (`classify`).
SPARK_GRAFT_STREAM_TELEMETRY=0 skips the single streaming ingest run.

Artifact contract: the FULL payload (all per-query dicts, growth blocks,
ledger summary, streaming telemetry) is written to the `BENCH_full.json`
sidecar; the ONE stdout JSON line (stdout_line) is machine-first and
ALWAYS carries the warm `queries` dict (the driver's per-query comparison
input) plus totals, the calibration readings and the streaming rec/s
numbers.  A failed query shows as a short marker on the line (its error
text stays in the sidecar), and if the line outgrows the ~2000-char tail
capture, the OPTIONAL blocks are shed one by one (streaming ->
calibration -> flag lists -> errors) before the per-query map is touched.
Only a map too large for the capture on its own is dropped, leaving a
minimal line of the required keys that always parses.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
TOOLS_DIR = os.path.join(REPO_DIR, "tools")
sys.path.insert(0, REPO_DIR)

from pei_nwdaf_data_ingestion_spark import artifacts, catalog, registry  # noqa: E402
from pei_nwdaf_data_ingestion_spark.session import get_spark  # noqa: E402

# Headline set: the shapes BASELINE.md times, plus one per extension family.
HEADLINE = [
    "agg_groupby_hash",    # TPC-H Q1 shape        (baseline 71 ms)
    "join_multiway",       # 5-way star join       (baseline 95 ms)
    "win_rank_topk",       # per-key top-3 window  (baseline 70 ms)
    "win_tumbling_1h",     # hourly JSON/agg       (baseline 41 ms)
    "json_extract",
    "explode_unnest",      # 64-dim unnest + agg   (baseline 7 ms)
    "agg_distinct",        # distinct pairs        (baseline 8 ms)
    "join_anti",           # NOT EXISTS            (baseline 9 ms)
    "topk_orderby_limit",
    "dedup_exact",
    "dedup_near_jaccard",
    "sim_cosine_topk",
    "text_token_stats",
    "multimodal_join",
    "ref_context_enrich",
    "ref_upsert_lastwins",
    "ref_unit_parse",
    "pipeline_pretrain_filter",
    # most expensive extension families (round-2 ask): the iterative /
    # index-building shapes that dominate real pipeline cost
    "dedup_cluster_components",
    "sim_ivf_topk",
    "text_cooccurrence",
    "dedup_ppjoin_prefix",
    # round-5 additions: the NTZ-repaired window family's heaviest shape,
    # the new corpus-reporting rollup, and the banded fact-x-fact range join
    "win_session_gap",
    "pipeline_dataset_card",
    "join_range_bucketed",
    "events_funnel_conversion",
    # round-6 additions: the no-join as-of spelling, the PQ ADC scan (the
    # 8-bytes-per-vector search path), and the z-order layout manifest
    "events_attribution_lasttouch",
    "sim_pq_topk",
    "pipeline_zorder_key",
    # round-6b additions: the iterative graph shape (3 join+agg rounds)
    # and the double-banded pHash self-join
    "graph_pagerank_iter",
    "dedup_phash_hamming",
    # round-6c additions: the inverted-index BM25 probe, the decimal-exact
    # money agg, and the event-time RANGE frame window
    "sim_bm25_topk",
    "agg_decimal_money",
    "win_time_range_frame",
    # round-6 session-2 additions: the 8x span explode + hash-key semi join
    # (C4-style span dedup), the 1->1024 projection fan-out feeding one
    # combinable agg, and the user-lifecycle ledger (distinct + dual lag)
    "dedup_span_repeats",
    "sim_random_projection",
    "events_growth_accounting",
    # round-8 additions: the map-side regex scrub over the full corpus
    # (3x extract_all + 3x chained replace per row), the cell-bounded
    # embedding dedup reusing the cached IVF quantizer, and the
    # hashed-bigram importance scorer (explode + 128-row model + re-join)
    "text_pii_scrub",
    "dedup_semdedup",
    "pipeline_importance_dsir",
    # round-9 additions: the corpus-rewrite paragraph dedup (chunk explode
    # + hash-keyed winner join + per-doc ordered rebuild) and the domain
    # reweighting step (token explode + vocabulary-bounded chain)
    "text_paragraph_dedup",
    "pipeline_mixture_doremi",
    # round-9 session-2 additions: the seed-trained NB quality classifier
    # (token-hash explode feeding the model agg AND the broadcast-scored
    # re-join) and the first-owner trigram novelty curve
    "pipeline_quality_classifier",
    "text_ngram_novelty",
    # first mapInPandas shape in the headline: real container decode to
    # integer units + JVM-side signal windowing (the Python-path budget)
    "multimodal_audio_vad",
    # three synchronous LPA rounds: per-round join on the shared adjacency
    # index + two combinable aggs (the iterative-algorithm budget, with
    # pagerank)
    "graph_label_propagation",
    # round-10 additions (VERDICT r9 item 4): perf telemetry for the
    # decode/curve family - the mapInPandas container decode at three
    # grains (stats, image histogram, video scene cuts), the r10 real
    # feature-vector extraction, the nprobe recall curve (its uncached
    # number includes the full IVF index build - the caches are cleared),
    # the bigram-LM chain, the zero-shuffle readability scan, and the
    # 5-row fertility agg
    "multimodal_decode",
    "multimodal_image_hist",
    "multimodal_scene_cuts",
    "multimodal_feature_vectors",
    "sim_ivf_nprobe_curve",
    "text_bigram_perplexity",
    "text_readability",
    "pipeline_tokenizer_fertility",
    # round-10 session-2 additions: the two explode-heavy corpus-
    # comparison shapes - CCNet terciles (explode + vocab broadcast +
    # per-language window sort) and log-odds keyness (one explode feeding
    # four combinable aggs + vocab-bounded join + per-source top-5)
    "text_ccnet_buckets",
    "text_keyness_logodds",
]

# The nine DuckDB-anchored sub-second shapes BASELINE.md prices directly.
# Named EXPLICITLY (ADVICE r13: the JIT warmup used to slice HEADLINE[:9]
# by position, so any insertion at the head of HEADLINE would silently
# warm the wrong set while the anchored shapes went back to paying codegen
# compilation inside their timed region).  The untimed JIT warmup pass
# and the post-sweep re-times key off this list, never off sweep position.
ANCHORED = [
    "agg_groupby_hash",
    "join_multiway",
    "win_rank_topk",
    "win_tumbling_1h",
    "json_extract",
    "explode_unnest",
    "agg_distinct",
    "join_anti",
    "topk_orderby_limit",
]

# Re-time passes over ANCHORED after the warm sweep, keeping each shape's
# min.  The first in-sweep pass of these sub-300 ms shapes carries host
# jitter the best-of-3 does not absorb: across the r15-r17 runs the
# nine-shape total fell from 1.88-3.08 s on the first pass to 1.28-1.51 s
# after one re-time and 1.05-1.25 s after two.
ANCHORED_RETIMES = 2

# AQE is the right DEFAULT at production scale (session.py keeps it on:
# runtime coalescing + skew splitting replace manual tuning when volume
# jumps 100x), but its per-stage materialization barrier is pure latency
# when every shuffle is 8 tasks of <10 MB: measured min-of-5 across the 9
# DuckDB-anchored shapes, AQE-off is 1.15 s vs 1.82 s AQE-on (measured
# with tools/probe_anchored.py, last present in commit 4603802).
# Iterative shapes whose join strategy depends on RUNTIME sizes keep AQE
# on - that dependence holds at any scale:
#   - dedup_cluster_components: the contraction m-map and final label
#     joins are sized by runtime stats (the r12 gated local solve
#     removed the star-round iteration at fixture scale, but the m-map
#     join's broadcast-ability is still a runtime call; re-measured on
#     the r12 plan: 2.45-2.5 s with AQE vs 2.9-3.3 s without)
#   - dedup_ppjoin_prefix: probe/build sizes exist only after the prefix
#     index is materialized (2.19 s with vs 2.42 s without)
#   (graph_pagerank_iter briefly sat here too; once its adjacency index
#   was materialized per-application the iteration sizes became static and
#   AQE's barrier was again pure latency - measured 1.13 s on vs 0.88 s off.
#   graph_label_propagation sat here for part of r12 on interleaved
#   same-JVM micro-pairs that favored AQE; the REAL bench context
#   disagreed - 2.30 s off (sweep 1) vs 3.72 s on (sweep 3) - and the
#   bench number is the one that counts: with the adjacency materialized
#   the label-frame sizes are as static as pagerank's, and AQE's
#   per-stage barrier is again pure latency across 3 rounds x 3 shuffles.
#   Lesson recorded in the verify skill: micro-benchmarks of AQE toggles
#   do not transfer; decide from full-bench interleaved runs.)
AQE_ON = {"dedup_cluster_components", "dedup_ppjoin_prefix"}

# Shapes excluded from the hi sweep, WITH the reason recorded in the
# payload (the no-silent-caps rule): the blocked pairwise audits are
# quadratic per block BY DESIGN - they are the exact reference tier the
# LSH/PPJoin/winnowing operators exist to replace at scale (SURVEY 2.9),
# and those scale-safe siblings STAY in the sweep.  Re-measuring a known
# quadratic costs minutes of every bench run for no new information.
HI_SWEEP_SKIP = {
    "dedup_near_jaccard": (
        "pairwise audit tier, quadratic per block by design; "
        "measured r9: 43.9 s @ sf1 (exp 1.9); LSH/PPJoin siblings swept"
    ),
    "dedup_containment": (
        "same blocked-pairwise audit tier as dedup_near_jaccard "
        "(quadratic per (lang, source) block by design - the MinHash-"
        "banded operators are the scale path, SURVEY 2.9); exempted "
        "from the rotating sweep for the same reason"
    ),
    # the r11 rotating sweep MEASURED the remaining three pairwise
    # audit tiers once (the whole point of the ledger) - each is
    # quadratic per block by construction, each names its scale-safe
    # sibling, and those siblings stay in the sweep:
    "dedup_ngram_jaccard": (
        "blocked-pairwise 2-shingle audit tier (same blocking as "
        "dedup_near_jaccard); measured r11: 157.5 s @ sf1 vs 0.85 s "
        "@ sf0.1 (exp 2.3); winnowing/minhash siblings swept"
    ),
    "dedup_embed_cosine": (
        "label-blocked pairwise cosine audit tier; measured r11: "
        "75.5 s @ sf1 vs 1.12 s @ sf0.1 (exp 1.9); the LSH-bucketed "
        "sim_knn_join and IVF family are the swept scale path"
    ),
    "dedup_lsh_recall_audit": (
        "recall audit = banded path JOINED against the exact blocked-"
        "pairwise ground truth, quadratic by definition of the audit; "
        "measured r11: 80.0 s @ sf1 vs 0.88 s @ sf0.1 (exp 2.0); the "
        "banded production path (dedup_minhash_lsh) is swept"
    ),
}

# Second-decade scale evidence for the 100 TB-claim family: one decade
# (sf0.1 -> sf1) of sub-linear exponents is thin support for a 100x
# claim, so the banded/bucketed production paths are additionally swept a
# half-decade further - sf1 -> sf3 (18M-row lineitem, 150k docs, 60k
# vectors: the deterministic factor-30 derivation of sf0.1,
# tools/gen_sf1.py --factor 30, whose affine letter bijection keeps
# cross-replica token sets disjoint past 26 replicas).  These are the
# operators whose sub-linearity IS the 100 TB story (banded LSH,
# prefix-filtered two stage, LSH-bucketed knn, cell-pruned IVF,
# contraction components, bounded-round LPA, chunk-hash paragraph
# rewrite, and the two graph audits after their r14/r15 plan changes); an
# exponent that holds across BOTH decades is real curvature, not fixture
# luck.
SF3_BANDED = [
    "dedup_minhash_lsh",
    "dedup_two_stage",
    "sim_knn_join",
    "sim_ivf_topk",
    "dedup_cluster_components",
    "graph_label_propagation",
    "text_paragraph_dedup",
    "graph_triangle_count",
    "graph_clustering_coeff",
]

# Growth verdicts.  An exponent above SUPERLINEAR (linear with margin) is
# re-measured once, then judged: superlinear when the confirmed high-scale
# time clears JITTER_S (sub-0.5 s shapes sit inside host jitter);
# floor_dominated when the base time sits within GROWTH_FLOOR_EPS of the
# calibration floor - the floor moved 0.048 -> 0.106 s within one r13
# run, so such a base time is clamped to noise and the slope measures the
# clamp, not the data (every r12/r13 watch entry had t_base 0.08-0.14 s vs
# floor 0.106 while fresh-JVM best-of-5 probes read exponents of
# 0.2-0.7); watch otherwise - recorded, never silently dropped.
SUPERLINEAR = 1.1
JITTER_S = 0.5
GROWTH_FLOOR_EPS = 0.05
# adjusted times are clamped here so a time at or under the floor still
# yields a finite exponent
CLAMP_S = 0.005

# The growth ledger's entries are one-decade sf0.1 -> sf1 measurements;
# a fold from any other scale pair would write incomparable entries.
LEDGER_PAIR = (0.1, 1.0)
LEDGER_PATH = os.path.join(TOOLS_DIR, "growth_ledger.json")
RATCHET_PATH = os.path.join(TOOLS_DIR, "bench_ratchet.json")


def time_calibration(spark, runs: int = 3) -> float:
    """Fixed probe plan (constant work, no I/O, no shuffle beyond one
    partial agg) timed like a query.  Its cost is Spark's fixed per-query
    plan + schedule overhead on this HOST, not a property of any code in
    this repo - the floor every growth exponent subtracts before taking
    the log-log slope (otherwise the constant overhead drags every
    exponent toward 0)."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 8).agg({"id": "sum"}).write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def time_query(spark, name: str, at_dir: str, runs: int = 3) -> float | str:
    """Best-of-`runs` wall clock of query `name` at `at_dir`, under the
    query's AQE posture (AQE_ON) - the session default is restored after.

    One broken query must never cost the whole sweep (BENCH_r04 died on
    the first error and the round shipped zero numbers): an error becomes
    the query's entry - a short `ERROR ...` string - and the caller moves
    on."""
    spark.conf.set("spark.sql.adaptive.enabled", str(name in AQE_ON).lower())
    try:
        fn = registry.QUERIES[name]
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, at_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)
    except Exception as exc:  # noqa: BLE001 - deliberately broad: keep sweeping
        msg = str(exc).split("\n", 1)[0][:160]
        print(f"bench: {type(exc).__name__} in {name} - {msg}", file=sys.stderr)
        return f"ERROR {type(exc).__name__}: {msg}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def warm_tables(spark, at_dir: str) -> None:
    """Load every base table at `at_dir` once, outside every timed region:
    with SPARK_GRAFT_CACHE=1 this materializes the table caches, with
    SPARK_GRAFT_COLD_FANOUT=1 the cold-path re-chunked layout.  A table
    that fails to warm just runs cold - warmup must never kill the run."""
    for t in catalog.TABLES:
        try:
            catalog.load(spark, at_dir, t).count()
        except Exception as exc:  # noqa: BLE001
            print(f"bench: warmup failed for {at_dir} {t}: {exc}", file=sys.stderr)


def sweep(spark, ids, at_dir: str, runs: int = 3) -> dict:
    """time_query over the registered `ids`, in order."""
    return {n: time_query(spark, n, at_dir, runs) for n in ids if n in registry.QUERIES}


def sf_of(path: str) -> float | None:
    """Scale factor a fixture dir is named for (`.../sf0.1` -> 0.1)."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(os.path.normpath(path)))
    return float(m.group(1)) if m else None


def scale_ratio(base_dir: str, hi_dir: str) -> float | None:
    """hi/base scale factor from the dir names; None unless both parse
    and hi > base > 0."""
    base, hi = sf_of(base_dir), sf_of(hi_dir)
    if base is None or hi is None or not hi > base > 0.0:
        return None
    return hi / base


def folds_ledger(base_dir: str, hi_dir: str) -> bool:
    """Whether a base/hi sweep may write tools/growth_ledger.json: only
    the LEDGER_PAIR scales it documents."""
    return (sf_of(base_dir), sf_of(hi_dir)) == LEDGER_PAIR


def ensure_fixtures(src_dir: str, out_dir: str, factor: int) -> bool:
    """True when `out_dir` exists, generating it first (tools/gen_sf1.py,
    outside every timed region) when it is absent and it names the scale
    `src_dir` x `factor` produces.  The sf1/sf3 fixtures are a pure
    deterministic derivation of sf0.1 and gitignored, so a fresh checkout
    builds them here; any other source scale would write data into a dir
    whose name lies about its scale."""
    if os.path.isdir(out_dir):
        return True
    src, out = sf_of(src_dir), sf_of(out_dir)
    if not (os.path.isdir(src_dir) and src is not None and out is not None
            and math.isclose(src * factor, out)):
        return False
    if TOOLS_DIR not in sys.path:
        sys.path.insert(0, TOOLS_DIR)
    import gen_sf1

    try:
        gen_sf1.main(["--src", src_dir, "--out", out_dir, "--factor", str(factor)])
    except Exception as exc:  # noqa: BLE001 - the sweep that needs it is optional
        print(f"bench: fixture generation for {out_dir} failed: {exc}", file=sys.stderr)
    return os.path.isdir(out_dir)


def growth(t_base: float, t_hi: float, ratio: float, floor: float) -> float:
    """Empirical growth exponent log(t_hi/t_base) / log(ratio), both
    times first stripped of the fixed per-query `floor` (clamped at
    CLAMP_S).  ~1 is linear in input - the only plan shape that survives a
    100x scale-up."""
    adj_hi, adj_base = max(t_hi - floor, CLAMP_S), max(t_base - floor, CLAMP_S)
    return round(math.log(adj_hi / adj_base) / math.log(ratio), 3)


def classify(t_base: float, t_hi: float, ratio: float, floor: float, confirm):
    """(exponent, t_hi, verdict) for one id.  An exponent above
    SUPERLINEAR re-times the high scale once (`confirm()`, a float or an
    error string) and keeps the min: best-of-3 alone can be inflated by
    one GC/JIT episode (a 0.18 -> 0.53 -> 0.18 s wobble faked a
    superlinear pipeline_dataset_card in r9), while a REAL superlinear
    shape reproduces.  verdict is None, "superlinear", "floor_dominated"
    or "watch" (see SUPERLINEAR)."""
    g = growth(t_base, t_hi, ratio, floor)
    if g <= SUPERLINEAR:
        return g, t_hi, None
    t2 = confirm()
    if isinstance(t2, float) and t2 < t_hi:
        t_hi = t2
        g = growth(t_base, t_hi, ratio, floor)
    if g <= SUPERLINEAR:
        return g, t_hi, None
    if t_hi > JITTER_S:
        return g, t_hi, "superlinear"
    if t_base - floor < GROWTH_FLOOR_EPS:
        return g, t_hi, "floor_dominated"
    return g, t_hi, "watch"


def growth_block(t_base: dict, t_hi: dict, ratio: float, floor: float,
                 confirm) -> dict:
    """classify every id timed (without error) at both scales.
    `confirm(name)` re-times `name` at the high scale.  t_hi is updated in
    place to the confirmed (min) time: that IS the measurement (r15: an
    unconfirmed join_anti 0.718 s rode into the ledger next to its
    confirmed 0.270 s)."""
    out: dict = {"exponent": {}, "superlinear": [], "floor_dominated": {}, "watch": {}}
    for n, hi in t_hi.items():
        base = t_base.get(n)
        if not (isinstance(base, float) and isinstance(hi, float)):
            continue
        g, t_hi[n], verdict = classify(
            base, hi, ratio, floor, lambda n=n: confirm(n)
        )
        out["exponent"][n] = g
        if verdict == "superlinear":
            out["superlinear"].append(n)
        elif verdict:
            out[verdict][n] = {"exponent": g, "t_base": base, "t_hi": t_hi[n]}
    out["superlinear"].sort()
    return out


def rotation(spark, base_dir: str, hi_dir: str, floor: float, rotate_n: int,
             headline: tuple) -> dict:
    """Rotating growth sweep: the headline hi sweep measures ~56 shapes;
    the other ~190 oracled ids' scale posture would otherwise be argued in
    docstrings + plan tests but never MEASURED.  Each run times `rotate_n`
    non-headline oracled ids at both scales (best-of-2: the ledger needs
    the exponent's decade, not ratchet-grade timing), flagged-first then
    staleness-first against tools/growth_ledger.json.  For the ledger's
    own scale pair (folds_ledger) every exponent measured - this sweep's
    and the headline hi sweep's, `headline` = (base times, hi times, hi
    growth_block) - is written into the ledger, so coverage accumulates
    across runs."""
    try:
        with open(LEDGER_PATH) as fh:
            ledger = json.load(fh)
    except (OSError, json.JSONDecodeError):
        ledger = {}
    oracled = sorted(n for n in registry.ORACLES if n in registry.QUERIES)

    # flagged-first, then staleness: an id whose LAST entry measured
    # superlinear re-measures every run until it reads clean - otherwise a
    # fix landing right after the sweep that flagged it leaves the red
    # entry frozen at the freshest seq for ~4 runs (r12
    # text_token_count_bpe).  floor_dominated entries are not red: their
    # exponent is the clamp artifact GROWTH_FLOOR_EPS names.
    def order(n: str) -> tuple:
        e = ledger.get(n, {})
        red = (e.get("exponent") or 0) > SUPERLINEAR and not e.get("floor_dominated")
        return (not red, e.get("seq", -1), n)

    pool = [n for n in oracled if n not in HEADLINE and n not in HI_SWEEP_SKIP]
    chosen = sorted(pool, key=order)[:rotate_n]
    t_base, t_hi = {}, {}
    for n in chosen:
        t_base[n] = time_query(spark, n, base_dir, runs=2)
        t_hi[n] = time_query(spark, n, hi_dir, runs=2)
    block = growth_block(
        t_base, t_hi, scale_ratio(base_dir, hi_dir), floor,
        lambda n: time_query(spark, n, hi_dir),
    )

    if folds_ledger(base_dir, hi_dir):
        seq = int(ledger.get("_seq", 0)) + 1
        ledger["_seq"] = seq
        # the headline exponents measured this run land in the same
        # ledger - it is the single record of who carries a measured hi
        # exponent
        for base, hi, blk in ((t_base, t_hi, block), headline):
            for n, g in blk["exponent"].items():
                ledger[n] = {"seq": seq, "exponent": g, "t_base": base[n], "t_hi": hi[n]}
                if n in blk["floor_dominated"]:
                    ledger[n]["floor_dominated"] = True
        for n, reason in HI_SWEEP_SKIP.items():
            ledger[n] = {"seq": seq, "skip": reason}
        try:
            with open(LEDGER_PATH, "w") as fh:
                json.dump(ledger, fh, indent=1, sort_keys=True)
        except OSError as exc:
            print(f"bench: ledger write failed: {exc}", file=sys.stderr)

    entries = {n: ledger[n] for n in oracled if isinstance(ledger.get(n), dict)}
    measured = [n for n, e in entries.items() if "exponent" in e]
    skipped = [n for n, e in entries.items() if "skip" in e]
    return {
        "rotation_base_queries": t_base,
        "rotation_hi_queries": t_hi,
        "rotation_growth_exponent_hi": block["exponent"],
        "rotation_superlinear_hi": block["superlinear"],
        "rotation_growth_watch_hi": block["watch"],
        "rotation_floor_dominated_hi": block["floor_dominated"],
        "growth_ledger": {
            "oracled_total": len(oracled),
            "measured": len(measured),
            "skipped": len(skipped),
            "pending": len(oracled) - len(measured) - len(skipped),
            # floor-dominated slopes are recorded, never flagged - a
            # clamped adj_base would otherwise manufacture the exponent
            "superlinear_ever": sorted(
                n for n in measured
                if (entries[n].get("exponent") or 0) > SUPERLINEAR
                and entries[n].get("t_hi", 0) > JITTER_S
                and not entries[n].get("floor_dominated")
            ),
        },
    }


# Consumers of the line capture only a ~2000-char tail of stdout.
LINE_LIMIT = 1950
# The keys every consumer of the line reads; the minimal fallback keeps them.
REQUIRED_KEYS = ("metric", "value", "unit", "uncached_value", "sf")
# Optional line blocks, shed in this order while the line is too long.
SHED_ORDER = ("streaming", "calibration", "superlinear_hi", "superlinear", "errors")
ERROR_MARKER = "ERROR"


def stdout_line(payload: dict) -> str:
    """The one stdout JSON line, built from the full sidecar payload.

    `queries` is the per-query comparison input and outlives every
    optional block.  Everything bulky (growth and rotation blocks, ledger
    summary, sf3 band, streaming notes) stays in the sidecar; the line
    keeps the calibration readings and the three streaming throughput
    numbers.  A failed query's entry is ERROR_MARKER here (its error text
    is in the sidecar).  While the line is over LINE_LIMIT the SHED_ORDER
    blocks are dropped one by one; if it is still over, the line falls
    back to REQUIRED_KEYS plus `queries`, then to REQUIRED_KEYS alone.
    """
    cal = payload.get("calibration", {})
    line_payload = {
        "metric": payload.get("metric"),
        "value": payload.get("value"),
        "unit": payload.get("unit"),
        # 3-decimal (1 ms) precision on the line keeps 56+ entries under the
        # tail capture; the sidecar keeps the full 4-decimal readings.
        "queries": {
            k: (
                ERROR_MARKER if isinstance(v, str)
                else round(v, 3) if isinstance(v, float) else v
            )
            for k, v in payload.get("queries", {}).items()
        },
        "uncached_value": payload.get("uncached_value"),
        "sf": payload.get("sf"),
        "calibration": {k: cal.get(k) for k in ("start", "end")},
        "superlinear": payload.get("superlinear", []),
        "superlinear_hi": payload.get("superlinear_hi", []),
        "full": "BENCH_full.json",
    }
    tel = payload.get("streaming")
    if tel:
        line_payload["streaming"] = {
            "rec_per_sec": tel.get("rec_per_sec"),
            "passthrough_rec_per_sec": tel.get("passthrough", {}).get("rec_per_sec"),
            "stateful_tuned_rec_per_sec": (
                tel.get("stateful_tuned", {}).get("rec_per_sec")
            ),
        }
    if payload.get("errors"):
        line_payload["errors"] = payload["errors"]
    for shed in (None, *SHED_ORDER):
        line_payload.pop(shed, None)
        line = json.dumps(line_payload, separators=(",", ":"))
        if len(line) <= LINE_LIMIT:
            return line
    minimal = {k: line_payload[k] for k in REQUIRED_KEYS}
    line = json.dumps({**minimal, "queries": line_payload["queries"]}, separators=(",", ":"))
    if len(line) <= LINE_LIMIT:
        return line
    return json.dumps(minimal, separators=(",", ":"))


def _sf_value(path: str):
    sf = sf_of(path)
    return sf if sf is not None else os.path.basename(os.path.normpath(path))


def _total(times: dict) -> float:
    return round(sum(v for v in times.values() if isinstance(v, float)), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # warm-cache base tables: fixture parquet is single-row-group (scan
    # parallelism 1); the cache restores multi-core execution (catalog.py).
    # Override with SPARK_GRAFT_CACHE=0 to time cold single-split scans.
    os.environ.setdefault("SPARK_GRAFT_CACHE", "1")
    registry.load_all()
    # shuffle partitions sized to the benchmark scale (sf0.1 <= 600k-row
    # facts: ~8 x 75k-row shuffle tasks), not to core count - 32 tasks of
    # tiny partitions is pure scheduling overhead at this volume.  AQE
    # still splits skewed/oversized partitions when the data says so.
    cores = os.cpu_count() or 4
    spark = get_spark(app_name="bench", shuffle_partitions=max(4, cores // 4))
    try:
        with open(RATCHET_PATH) as fh:
            ratchet = json.load(fh)
    except (OSError, json.JSONDecodeError):
        ratchet = {}

    # warm the JVM/reader path + materialize table caches once, then
    # JIT-warm the DuckDB-anchored sub-second shapes with one untimed run
    # each: whole-stage-codegen compilation otherwise lands inside their
    # timed region, and at sub-300 ms absolute times that IS the drift
    # (r13: the anchored shapes timed at sweep head read 1.3-1.7x their
    # idle min-of-5).  Heavy shapes run deep in the sweep with a warm JIT.
    warm_tables(spark, sf_dir)
    for n in ("agg_global", *ANCHORED):
        time_query(spark, n, sf_dir, runs=1)

    calib_start = time_calibration(spark)
    times = sweep(spark, HEADLINE, sf_dir)
    for _ in range(ANCHORED_RETIMES):
        for n, t in sweep(spark, ANCHORED, sf_dir).items():
            if isinstance(t, float) and isinstance(times.get(n), float):
                times[n] = min(times[n], t)

    # second sweep against plain cold parquet scans (catalog.load checks the
    # env var per call, so flipping it here bypasses the cache); JVM and
    # code paths are warm.  COLD_FANOUT compensates the single-row-group
    # fixture artifact (scan parallelism 1) with the same width rule the
    # cache path uses - one tiny round-robin shuffle per scan instead of a
    # one-core pipeline.  Drop ALL sweep-1 warm state first: cached base
    # tables and persisted artifacts would otherwise stay resident under
    # the "plain scan" numbers (and the stored IVF centroids would let
    # sim_ivf_topk skip its k-means build).  warm_tables then materializes
    # the cold-path re-chunked layout OUTSIDE the timed region (layout
    # preparation, not result caching: every timed query still scans
    # parquet from disk).
    os.environ["SPARK_GRAFT_CACHE"] = "0"
    os.environ["SPARK_GRAFT_COLD_FANOUT"] = "1"
    artifacts.clear()
    warm_tables(spark, sf_dir)
    uncached = sweep(spark, HEADLINE, sf_dir)
    calib_end = time_calibration(spark)
    floor = max(calib_start, calib_end)
    os.environ["SPARK_GRAFT_CACHE"] = "1"
    os.environ.pop("SPARK_GRAFT_COLD_FANOUT", None)

    payload: dict = {
        "metric": "headline_queries_total_warm",
        "value": _total(times),
        "unit": "sec",
        "queries": times,
        "uncached_value": _total(uncached),
        "uncached_queries": uncached,
        "calibration": {"start": calib_start, "end": calib_end},
        "sf": _sf_value(sf_dir),
    }

    # lo sweep: the warm ids one decade down.  Floor-dominated on every
    # sub-0.5 s shape (the overhead adjustment mostly measures scheduler
    # constants there), hence the hi sweep below.  Its confirm re-times
    # work on a copy: the published warm times stay the sweep's own.
    lo_dir = os.path.join(
        os.path.dirname(os.path.abspath(sf_dir.rstrip("/"))),
        "sf0.001" if sf_of(sf_dir) == 0.01 else "sf0.01",
    )
    ratio = scale_ratio(lo_dir, sf_dir)
    if ratio and os.path.isdir(lo_dir):
        warm_tables(spark, lo_dir)
        lo = sweep(spark, HEADLINE, lo_dir)
        blk = growth_block(
            lo, dict(times), ratio, floor, lambda n: time_query(spark, n, sf_dir)
        )
        payload.update(
            sf_lo=_sf_value(lo_dir), lo_queries=lo,
            growth_exponent=blk["exponent"], superlinear=blk["superlinear"],
        )

    # hi sweep: one decade UP - sf0.1 -> sf1 (6M-row lineitem), where the
    # floor is noise and the slope measures data scaling.  Fixtures are
    # the deterministic 10x derivation of tools/gen_sf1.py (gitignored;
    # ~1 min to generate); the sweep is skipped when they are absent.
    hi_dir = os.environ.get("SPARK_GRAFT_SF_HI_DIR") or os.path.join(
        REPO_DIR, "testdata_sf1", "sf1"
    )
    ratio = scale_ratio(sf_dir, hi_dir)
    if ratio and ensure_fixtures(sf_dir, hi_dir, 10):
        warm_tables(spark, hi_dir)
        hi = sweep(spark, [n for n in HEADLINE if n not in HI_SWEEP_SKIP], hi_dir)
        hi_block = growth_block(
            times, hi, ratio, floor, lambda n: time_query(spark, n, hi_dir)
        )
        payload.update(
            sf_hi=_sf_value(hi_dir), hi_queries=hi,
            growth_exponent_hi=hi_block["exponent"],
            superlinear_hi=hi_block["superlinear"],
            growth_watch_hi=hi_block["watch"],
            growth_floor_dominated_hi=hi_block["floor_dominated"],
            hi_skipped=HI_SWEEP_SKIP,
        )
    # sf3 and rotation need a one-decade hi pair: a sf0.01 contract run
    # against a present sf1 dir must not pay them
    decade = "hi_queries" in payload and 9.0 < ratio < 11.0

    sf3_dir = os.environ.get("SPARK_GRAFT_SF3_DIR") or os.path.join(
        REPO_DIR, "testdata_sf3", "sf3"
    )
    ratio3 = scale_ratio(hi_dir, sf3_dir)
    if decade and ratio3 and ensure_fixtures(sf_dir, sf3_dir, 30):
        warm_tables(spark, sf3_dir)
        # sf3 runs LATE in a long JVM, like the rotation: re-measure the
        # floor here instead of trusting the sweep-time probes.  BOTH legs
        # are timed fresh and back-to-back per id under the same
        # cache/JIT state - reusing the hi sweep's mid-sweep reading once
        # gave LPA exponent -1.09 (6.12 s deep in the hi sweep vs 1.90 s
        # fresh at sf3: measurement-context skew, not data).
        floor3 = max(floor, time_calibration(spark))
        t_sf1, t_sf3 = {}, {}
        for n in SF3_BANDED:
            if n in registry.QUERIES:
                t_sf1[n] = time_query(spark, n, hi_dir, runs=2)
                t_sf3[n] = time_query(spark, n, sf3_dir, runs=2)
        blk = growth_block(
            t_sf1, t_sf3, ratio3, floor3, lambda n: time_query(spark, n, sf3_dir)
        )
        payload["sf3_banded"] = {
            "sf": sf_of(sf3_dir),
            "base_sf": sf_of(hi_dir),
            "t_sf1": t_sf1,
            "t_sf3": t_sf3,
            "exponent": blk["exponent"],
            "superlinear": blk["superlinear"],
            "floor_dominated": blk["floor_dominated"],
            "watch": blk["watch"],
            # no-silent-caps disclosure: these are WARM exponents under
            # bench's per-application amortization convention - the
            # MinHash pair index, IVF centroids and graph adjacency build
            # once per (app, sf) and the best-of-2 takes the post-build
            # run, so the exponents price the recurring per-query work
            # (probe/band joins, iteration shuffles), not the one-time
            # index scans.  The graph shapes additionally run on a
            # near-constant |E|: the fixture replication repeats
            # (supplier, part) pairs, so their distinct edge set does not
            # grow with the factor.
            "note": (
                "warm per-app-amortized timings (index builds outside "
                "the timed runs, bench convention); graph shapes run "
                "at near-constant |E| by fixture construction"
            ),
        }
        # free the sf3 tables and indexes before the rotation re-warms
        # the base tables (same hygiene as the uncached sweep)
        artifacts.clear(sf3_dir)

    # 70 (was 50, r12): one pass clears the ledger's whole oldest cohort
    # and keeps a ~5-run freshness bound for ~2 min extra
    rotate_n = int(os.environ.get("SPARK_GRAFT_ROTATE_N", "70"))
    if decade and rotate_n > 0:
        # base-scale table caches were dropped for the uncached sweep;
        # re-warm them.  The rotation runs LAST in a long JVM (7k+ stages
        # by then): GC and JIT state have moved the floor, and a stale-low
        # floor is exactly what turns sub-0.15 s base times into clamped
        # exponents - re-measure it here.
        warm_tables(spark, sf_dir)
        floor_rot = max(floor, time_calibration(spark))
        payload.update(rotation(
            spark, sf_dir, hi_dir, floor_rot, rotate_n,
            (times, payload["hi_queries"], hi_block),
        ))

    # streaming-tier throughput telemetry: one real multi-batch run of the
    # ingest-pipeline shape (watermark + window + agg, maxFilesPerTrigger=1)
    # yields the engine's progress-based rec/s and per-batch trigger
    # latency, recorded as measured next to the reference kernel's
    # 144k rec/s/core line (BASELINE.md - a pass-through loop, so the
    # comparison is context, not apples-to-apples).
    if os.environ.get("SPARK_GRAFT_STREAM_TELEMETRY", "1") != "0":
        try:
            from pei_nwdaf_data_ingestion_spark.queries import streaming_queries

            tel = streaming_queries.ingest_throughput(spark, sf_dir)
            tel["reference_rec_per_sec_per_core"] = 144_000
            tel["note"] = (
                "reference line is a pass-through normalize kernel; this "
                "run pays watermark state + windowed agg + commit per batch"
            )
            payload["streaming"] = tel
        except Exception as exc:  # noqa: BLE001 - telemetry must not kill bench
            print(f"bench: streaming telemetry failed: {exc}", file=sys.stderr)

    # cache invariant: a warm table cache that LOSES to cold parquet scans
    # is always a layout bug (r5: coalesce(1)-cached documents starved
    # dedup_ppjoin_prefix 3.3x) - make it machine-visible.  The absolute
    # 0.25 s slack covers sweep order: the uncached sweep runs SECOND, so
    # every plan is JIT-compiled by then - on sub-second shapes that alone
    # shows as a spurious 1.5x "loss".
    both = [n for n in times if isinstance(times[n], float)]
    payload["cache_regressions"] = sorted(
        n for n in both
        if isinstance(uncached.get(n), float) and times[n] > 1.5 * uncached[n] + 0.25
    )
    # per-query ratchet: best-known warm time per query, checked in at
    # tools/bench_ratchet.json.  A query is flagged above 2x its ratchet
    # PLUS an absolute 0.25 s slack: sub-second shapes are dominated by
    # Spark's fixed per-query overhead, whose host-to-host jitter
    # (0.1-0.5 s on this virtualized box) is additive, not proportional.
    pinned = [n for n in both if isinstance(ratchet.get(n), (int, float))]
    payload["regressions"] = {
        n: {"warm": times[n], "best_known": ratchet[n]}
        for n in pinned if times[n] > 2.0 * ratchet[n] + 0.25
    }
    # the nine anchored shapes publish their aggregate against the sum of
    # their ratchet pins, so a BENCH file states by itself whether its
    # anchored numbers are idle-grade (vs_pins <= ~1.2) or contaminated
    warm_total = round(sum(times[n] for n in ANCHORED if n in both), 4)
    pin_total = round(sum(ratchet[n] for n in ANCHORED if n in pinned), 4)
    payload["anchored"] = {
        "warm_total": warm_total,
        "ratchet_pin_total": pin_total,
        "vs_pins": round(warm_total / pin_total, 3) if pin_total else None,
    }
    errors = sorted({n for d in (times, uncached) for n, v in d.items() if isinstance(v, str)})
    if errors:
        payload["errors"] = errors

    # the driver captures only a ~2000-char TAIL of stdout, so the FULL
    # payload goes to a sidecar file and stdout gets stdout_line's compact
    # summary as the LAST line.
    try:
        with open(os.path.join(REPO_DIR, "BENCH_full.json"), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: sidecar write failed: {exc}", file=sys.stderr)
    print(stdout_line(payload))
    spark.stop()


if __name__ == "__main__":
    main()
