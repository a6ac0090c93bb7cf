#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "uncached_value": N, "uncached_queries": {...}, "sf": ...}

Timing is per-query wall clock of plan construction + execution to a noop
write (results are not collected to the driver - the action materializes the
full result like the driver's hash would).  Each query runs three times; the
best (warm) time is reported, matching BASELINE.md's warm DuckDB numbers.

Both cache modes are reported in the SAME line (round-1 ask): `queries` has
the base tables pre-cached (catalog.py - restores the multi-core scan
parallelism the single-row-group fixture files deny), `uncached_queries`
re-times every query against plain cold parquet scans (warm JVM, no cache) -
the honest single-split-scan numbers.

A third WARM sweep runs at a 10x-smaller scale factor (round-8 ask) and
carries `lo_queries`, per-query `growth_exponent` (overhead-adjusted
log-log slope between the two scales - the empirical scale-up evidence)
and a `superlinear` flag list.  SPARK_GRAFT_SF_SWEEP=0 disables.

Artifact contract (round-9 ask, re-fixed round 16 per VERDICT r15 item 1):
the FULL payload (all four per-query dicts, anchored retry ledger, growth
ledger, streaming telemetry) is written to the `BENCH_full.json` sidecar;
the ONE stdout JSON line is machine-first and ALWAYS carries the warm
`queries` dict (the driver's per-query comparison input) plus totals, a
compact calibration block and the streaming rec/s numbers.  The r15 line
grew past bench.py's own 1800-char inclusion guard (anchored retries +
ledgers + streaming notes), so the guard dropped `queries` and the driver's
PERF per_query/scaling blocks came back empty two rounds running.  Now the
bulky diagnostic blocks stay sidecar-only, a failed query shows as a short
marker on the line (its error text stays in the sidecar), and if the line
still outgrows the ~2000-char tail capture, the OPTIONAL blocks are shed one
by one (streaming -> calibration -> flag lists -> errors) before the
per-query map is touched.  Only a map too large for the capture on its own
is dropped, leaving a minimal line of the required keys that always
parses (stdout_line).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pei_nwdaf_data_ingestion_spark import registry
from pei_nwdaf_data_ingestion_spark.session import get_spark

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
# compilation inside their timed region).  Everything calibration-gated -
# the untimed JIT warmup pass AND the retry-on-load republish gate - keys
# off this list, never off sweep position.
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


# AQE is the right DEFAULT at production scale (session.py keeps it on:
# runtime coalescing + skew splitting replace manual tuning when volume
# jumps 100x), but its per-stage materialization barrier is pure latency
# when every shuffle is 8 tasks of <10 MB: measured min-of-5 across the 9
# DuckDB-anchored shapes, AQE-off is 1.15 s vs 1.82 s AQE-on
# (tools/probe_anchored.py).  Iterative shapes whose join strategy depends
# on RUNTIME sizes keep AQE on - that dependence holds at any scale:
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


def time_calibration(spark, runs: int = 3) -> float:
    """Fixed probe plan (constant work, no I/O, no shuffle beyond one
    partial agg) timed like a query.  Its cost is a property of the HOST,
    not of any code in this repo - so comparing it against its checked-in
    bound tells a loaded/contended driver box apart from a plan regression
    (VERDICT r6 item 4: BENCH_r06's 7 ratchet flags all vanished on an
    idle rerun)."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 8).agg({"id": "sum"}).write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def time_calibration_heavy(spark, runs: int = 3) -> float:
    """Second calibration shape (VERDICT r9 item 7): the tiny scan probe
    prices the SCHEDULER, not the JVM - round 9's driver box ran 8 heavy
    shapes 1.5-1.8x over their ratchet minima while the probe beat its
    own best (vs_ratchet 0.778), so sustained_slowdown never tripped.
    This shape prices what heavy queries actually stress - per-row array
    allocation, a 64-term codegen fold, partial aggregation - so GC/JIT/
    memory pressure moves it the way it moves real queries.  Constant
    work, no I/O; still a HOST property, never a plan property.
    Measured under a 28-process busy-loop co-load on the r10 box: heavy
    probe 0.41 s idle -> 0.97 s loaded (2.35x, trips the 1.3x sustained
    gate with margin) vs the tiny scan's 1.75x - the heavy shape is the
    more load-sensitive sensor, as intended."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        (
            spark.range(0, 200_000, 1, 8)
            .select(
                F.aggregate(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(63)),
                        lambda i: (F.col("id") % 997 + i) * 1.0001,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                ).alias("v")
            )
            .agg({"v": "sum"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def time_query(fn, spark, sf_dir: str, runs: int = 3) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def safe_time_query(fn, spark, sf_dir: str, runs: int = 3):
    """One broken query must never cost the whole sweep (BENCH_r04 died on
    the first error and the round shipped zero numbers).  Errors become the
    query's entry - a short string - and the sweep continues."""
    try:
        return round(time_query(fn, spark, sf_dir, runs=runs), 4)
    except Exception as exc:  # noqa: BLE001 - deliberately broad: keep sweeping
        msg = str(exc).split("\n", 1)[0][:160]
        print(f"bench: {type(exc).__name__} in query - {msg}", file=sys.stderr)
        return f"ERROR {type(exc).__name__}: {msg}"


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
    optional block.  Everything bulky (anchored retry passes, growth and
    rotation ledgers, sf3 band, streaming notes) stays in the sidecar; the
    line keeps a compact calibration block and the three streaming
    throughput numbers.  A failed query's entry is ERROR_MARKER here (its
    error text is in the sidecar).  While the line is over LINE_LIMIT the
    SHED_ORDER blocks are dropped one by one; if it is still over, the line
    falls back to REQUIRED_KEYS plus `queries`, then to REQUIRED_KEYS alone.
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
        "calibration": {
            k: cal.get(k)
            for k in ("start", "end", "vs_ratchet", "noisy_host", "sustained_slowdown")
        },
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
    # ratchet pins load up front: the warm sweep's republish gate below
    # needs them (they double later as the regression-flag thresholds)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tools", "bench_ratchet.json")
        ) as fh:
            ratchet = json.load(fh)
    except (OSError, json.JSONDecodeError):
        ratchet = {}
    # warm the JVM/reader path + materialize table caches once; warmup
    # failures must not kill the sweep (same lesson as the per-query
    # guard: BENCH_r04 shipped zero numbers because one error aborted
    # everything) - a table that fails to warm just runs cold
    from pei_nwdaf_data_ingestion_spark import artifacts, catalog

    for t in catalog.TABLES:
        try:
            catalog.load(spark, sf_dir, t).count()
        except Exception as exc:  # noqa: BLE001
            print(f"bench: warmup failed for {t}: {exc}", file=sys.stderr)
    try:
        registry.QUERIES["agg_global"](spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001
        print(f"bench: warmup query failed: {exc}", file=sys.stderr)

    def sweep(at_dir: str = sf_dir, skip: dict | None = None) -> dict:
        out: dict = {}
        for name in HEADLINE:
            fn = registry.QUERIES.get(name)
            if fn is None or (skip and name in skip):
                continue
            spark.conf.set(
                "spark.sql.adaptive.enabled",
                "true" if name in AQE_ON else "false",
            )
            out[name] = safe_time_query(fn, spark, at_dir)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        return out

    def confirm_growth_time(name: str, hi_time: float, at_dir: str):
        """Re-time a growth-flagged shape once more at the high scale and
        return the better (min) timing.  time_query is already best-of-3,
        but a GC/JIT episode can depress all three back-to-back runs: a
        one-off 0.18 s -> 0.53 s -> 0.18 s wobble on pipeline_dataset_card
        (three consecutive bench runs, round 9) faked a superlinear
        exponent.  A REAL superlinear shape reproduces its high-scale time
        in a second, later measurement; a hiccup does not."""
        fn = registry.QUERIES.get(name)
        if fn is None:
            return hi_time
        spark.conf.set(
            "spark.sql.adaptive.enabled",
            "true" if name in AQE_ON else "false",
        )
        t2 = safe_time_query(fn, spark, at_dir)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        return min(hi_time, t2) if isinstance(t2, float) else hi_time

    # JIT-warm the DuckDB-anchored sub-second shapes with one untimed run
    # each: whole-stage-codegen compilation otherwise lands inside their
    # timed region, and at sub-300 ms absolute times that IS the drift -
    # r13 measured the anchored shapes at 1.3-1.7x their idle min-of-5
    # when timed at sweep head (win_tumbling_1h 236 ms in-sweep vs 139 ms
    # in probe_anchored, which runs each shape 10x).  Heavy shapes run
    # deep in the sweep with a warm JIT and need no pass (~2 s total).
    for _name in ANCHORED:
        _fn = registry.QUERIES.get(_name)
        if _fn is None:
            continue
        spark.conf.set(
            "spark.sql.adaptive.enabled",
            "true" if _name in AQE_ON else "false",
        )
        try:
            _fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - warmup must never kill the run
            pass
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    calib_start = time_calibration(spark)
    calib_heavy_start = time_calibration_heavy(spark)
    times = sweep()

    # Calibration-wired republish gate (VERDICT r13 item 1): the r13
    # end-of-round sweep shipped 1.3-2.4x-inflated anchored times while
    # the calibration block DETECTED the co-load (heavy_vs_ratchet 1.21)
    # and did nothing with it.  Detection now acts: any anchored shape
    # above 1.2x its ratchet pin (+50 ms absolute scheduler-jitter slack)
    # is re-measured best-of-3 in up to two bounded passes, keeping the
    # min, with a short settle window between passes so a TRANSIENT
    # co-load (the r13 failure mode) clears instead of contaminating the
    # retry too.  A real plan regression reproduces across all three
    # measurements and still publishes flagged; the retry ledger below
    # makes every accepted re-measure self-describing in the payload.
    anchored_retry: dict = {}
    for _pass in range(2):
        # two gates: per-shape (a single spiked shape, generous absolute
        # slack because sub-0.3 s times carry 50-100 ms host jitter) and
        # AGGREGATE (the sum over nine shapes washes per-shape jitter
        # out, so a tighter relative bound with NO absolute slack is the
        # right detector for uniform co-load - the first hardened run
        # measured two shapes at 1.4-1.7x their pins that the per-shape
        # slack alone let through while the aggregate sat at 1.194x)
        pin_ok = [
            n for n in ANCHORED
            if isinstance(times.get(n), float)
            and isinstance(ratchet.get(n), (int, float))
        ]
        agg_over = (
            len(pin_ok) == len(ANCHORED)
            and sum(times[n] for n in pin_ok)
            > 1.15 * sum(ratchet[n] for n in pin_ok)
        )
        flagged = [
            n for n in pin_ok
            if times[n] > 1.2 * ratchet[n] + 0.05
            or (agg_over and times[n] > 1.1 * ratchet[n])
        ]
        if not flagged:
            break
        if _pass:
            time.sleep(20)  # settle: let a transient co-load drain
        retry_calib = time_calibration(spark)
        for n in flagged:
            fn = registry.QUERIES.get(n)
            if fn is None:
                continue
            spark.conf.set(
                "spark.sql.adaptive.enabled",
                "true" if n in AQE_ON else "false",
            )
            t2 = safe_time_query(fn, spark, sf_dir)
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            if isinstance(t2, float) and t2 < times[n]:
                rec = anchored_retry.setdefault(
                    n, {"first": times[n], "passes": []}
                )
                rec["passes"].append(
                    {"t": round(t2, 4), "calibration": retry_calib}
                )
                times[n] = round(t2, 4)

    # second sweep against plain cold parquet scans (catalog.load checks the
    # env var per call, so flipping it here bypasses the cache); JVM and
    # code paths are warm.  COLD_FANOUT compensates the single-row-group
    # fixture artifact (scan parallelism 1) with the same width rule the
    # cache path uses - one tiny round-robin shuffle per scan instead of a
    # one-core pipeline (VERDICT r6 item 3).
    # Drop ALL sweep-1 warm state first: the cached/persisted base tables
    # (and any lazy localCheckpoint blocks) would otherwise stay resident in
    # executor memory under the "plain scan" numbers, and the stored IVF
    # centroids would let sim_ivf_topk skip its k-means build entirely.
    os.environ["SPARK_GRAFT_CACHE"] = "0"
    os.environ["SPARK_GRAFT_COLD_FANOUT"] = "1"
    artifacts.clear()
    # materialize the cold-path re-chunked layout once OUTSIDE the timed
    # region (layout preparation, not result caching: every timed query
    # still scans parquet from disk)
    for t in catalog.TABLES:
        try:
            catalog.load(spark, sf_dir, t).count()
        except Exception as exc:  # noqa: BLE001
            print(f"bench: cold-layout prep failed for {t}: {exc}",
                  file=sys.stderr)
    uncached = sweep()
    calib_end = time_calibration(spark)
    calib_heavy_end = time_calibration_heavy(spark)

    # multi-scale growth sweep (VERDICT r7 item 1): re-time every headline
    # shape WARM at a 10x-smaller scale factor and report the per-query
    # empirical growth exponent g = log(t_hi/t_lo)/log(sf_hi/sf_lo), both
    # times first stripped of the host's fixed per-query floor (the
    # calibration probe cost - Spark's plan+schedule overhead is constant,
    # not data-dependent, and would otherwise drag every exponent toward 0).
    # g ~ 1 = linear in input, the only plan shape that survives a 100x
    # scale-up; anything meaningfully above 1 on a non-trivial absolute
    # time is flagged as superlinear.  SPARK_GRAFT_SF_SWEEP=0 disables;
    # SPARK_GRAFT_SF_LO_DIR overrides the low-scale fixture dir.
    import math

    sweep_lo: dict = {}
    growth: dict = {}
    superlinear: list = []
    sf_lo = ""
    if os.environ.get("SPARK_GRAFT_SF_SWEEP", "1") != "0":
        lo_dir = os.environ.get("SPARK_GRAFT_SF_LO_DIR")
        if not lo_dir:
            base = os.path.dirname(os.path.abspath(sf_dir.rstrip("/")))
            name = os.path.basename(sf_dir.rstrip("/"))
            lo_dir = os.path.join(
                base, "sf0.001" if name == "sf0.01" else "sf0.01"
            )
        try:
            sf_hi_v = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
            sf_lo_v = float(lo_dir.rstrip("/").rsplit("sf", 1)[-1])
        except ValueError:
            sf_hi_v = sf_lo_v = 0.0
        if (
            os.path.isdir(lo_dir)
            and os.path.abspath(lo_dir) != os.path.abspath(sf_dir)
            and sf_hi_v > sf_lo_v > 0.0
        ):
            sf_lo = lo_dir.rstrip("/").rsplit("sf", 1)[-1]
            os.environ["SPARK_GRAFT_CACHE"] = "1"
            os.environ.pop("SPARK_GRAFT_COLD_FANOUT", None)
            for t in catalog.TABLES:
                try:
                    catalog.load(spark, lo_dir, t).count()
                except Exception as exc:  # noqa: BLE001
                    print(f"bench: lo-sf warmup failed for {t}: {exc}",
                          file=sys.stderr)
            sweep_lo = sweep(lo_dir)
            floor = max(calib_start, calib_end)
            ratio = math.log(sf_hi_v / sf_lo_v)
            for n, t_hi in times.items():
                t_lo = sweep_lo.get(n)
                if not (isinstance(t_hi, float) and isinstance(t_lo, float)):
                    continue
                adj_hi = max(t_hi - floor, 0.005)
                adj_lo = max(t_lo - floor, 0.005)
                g = round(math.log(adj_hi / adj_lo) / ratio, 3)
                growth[n] = g
                # superlinear gate: exponent above linear-with-margin AND a
                # non-floor absolute time at the high scale (sub-0.5 s shapes
                # are inside host jitter; their exponents are reported but
                # never flagged)
                if g > 1.1 and t_hi > 0.5:
                    t_best = confirm_growth_time(n, t_hi, sf_dir)
                    adj_hi = max(t_best - floor, 0.005)
                    g = round(math.log(adj_hi / adj_lo) / ratio, 3)
                    growth[n] = g
                    if g > 1.1 and t_best > 0.5:
                        superlinear.append(n)
            superlinear.sort()

    # shapes excluded from the sf1 sweep, WITH the reason recorded in the
    # payload (the no-silent-caps rule): the blocked pairwise Jaccard audit
    # is quadratic per (lang, source) block BY DESIGN - it is the exact
    # reference tier the LSH/PPJoin/winnowing operators exist to replace at
    # scale (SURVEY 2.9), and those scale-safe siblings STAY in the sweep.
    # Measured once (round 9, this box): 43.9 s at sf1 vs 0.60 s at sf0.1,
    # exponent 1.9 - re-measuring a known quadratic costs ~4 min of every
    # bench run for no new information.
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

    # attribution notes for shapes that have carried a growth watch and
    # been re-measured by hand (VERDICT r11 item 3: a watch entry must
    # never ride the ledger without an attached explanation).  A shape
    # flagged again gets its note embedded in the watch entry so the
    # payload itself says what the exponent is measuring.
    GROWTH_WATCH_NOTES = {
        "win_time_range_frame": (
            "RANGE-frame window = one user_id shuffle + per-partition "
            "sort; n*log(n) puts the true decade exponent at ~1.03, and "
            "the r12 idle-box re-measure (best-of-5 both scales) read "
            "0.15 - the r10/r11 watch values were host jitter on a "
            "sub-0.5 s shape, not data scaling"
        ),
        "agg_grouping_sets": (
            "grouping-sets expand is a constant 4x row multiplier into "
            "combinable partial aggs (map-side); r12 idle-box re-measure "
            "read exponent 0.10 at t_hi 0.44 s - the 1.3 rotation reading "
            "was fixed-overhead noise at a ~0.2 s absolute time"
        ),
        "win_running_sum": (
            "one user_id window shuffle + per-partition running sum "
            "(linear after sort); r12 idle-box re-measure (best-of-5 "
            "both scales) read exponent 0.23 at t_hi 0.39 s - the 1.16 "
            "rotation reading was best-of-2 jitter on a sub-0.5 s shape"
        ),
        "subq_in_notin": (
            "IN/NOT IN rewrite to one semi + one anti hash join, both "
            "swept linear shapes; r12 idle-box re-measure read exponent "
            "0.38 at t_hi 0.64 s - the 1.117 rotation reading was "
            "best-of-2 jitter just over the 1.1 line"
        ),
        "array_funcs": (
            "map-side array expression chain, zero shuffle beyond the "
            "scan; r12 idle-box re-measure (best-of-5 both scales) read "
            "exponent 0.71 at t_hi 0.95 s - the 1.297 rotation reading "
            "was best-of-2 jitter on a ~0.2 s absolute time"
        ),
        "agg_decimal_money": (
            "one combinable decimal agg over lineitem; r12 best-of-5 "
            "re-measure read exponent -0.13 (hi WARM run faster than lo "
            "- pure host jitter at these absolute times)"
        ),
        "join_semi": (
            "single semi hash join on the orders key; r12 best-of-5 "
            "re-measure read exponent 0.47 at t_hi 0.76 s - the 1.377 "
            "rotation reading was best-of-2 jitter at t_hi 0.25 s"
        ),
        "map_funcs": (
            "map-side map-column expression chain; r12 best-of-5 "
            "re-measure read exponent 0.26 at t_hi 0.35 s - the 1.648 "
            "rotation reading was best-of-2 jitter on a sub-0.5 s shape"
        ),
        "text_fingerprint": (
            "map-side min-md5 over the bigram shingle array, zero "
            "shuffle beyond the scan (flat-linear by construction); r13 "
            "best-of-5 idle-box re-measure (tools/probe_growth.py, both "
            "scales) read exponent 0.62 at t_hi 0.49 s - the 1.813 "
            "rotation reading was best-of-2 jitter on a sub-0.5 s shape"
        ),
        "join_anti": (
            "single anti hash join on the orders key (no superlinear "
            "mechanism; its headline warm time IMPROVED the round the "
            "watch opened); r13 best-of-5 idle-box re-measure read "
            "exponent 0.63 at t_hi 0.25 s - the 1.38 rotation reading "
            "was best-of-2 jitter at the host floor"
        ),
    }

    # hi-scale growth sweep (VERDICT r8 item 3): the sf0.01->sf0.1 sweep is
    # floor-dominated on every sub-0.5 s shape (the overhead adjustment
    # mostly measures scheduler constants there), so exponents are ALSO
    # measured one decade UP - sf0.1 -> sf1 (6M-row lineitem), where the
    # floor is noise and the slope measures data scaling.  Fixtures are the
    # deterministic 10x derivation of tools/gen_sf1.py (gitignored;
    # regenerate in ~1 min); the sweep is skipped silently when absent.
    #
    # Decidability guard (r13): the log-log slope is only MEANINGFUL when
    # the base-scale time clears the floor by more than the floor's own
    # intra-run swing.  The per-query floor moved 0.048 -> 0.106 s within
    # one r13 run; a shape whose t_base sits inside that band has
    # adj_base clamped to noise, and the computed exponent measures the
    # clamp, not the data (every one of the six r12/r13 watch entries -
    # text_fingerprint 1.85, join_anti 1.42, join_semi 1.43,
    # subq_in_notin 1.51, cast_funcs 1.19, win_percent_rank 1.36 - had
    # t_base 0.08-0.14 vs floor 0.106, while fresh-JVM best-of-5 probes
    # read 0.2-0.7 on the same shapes).  Such shapes are recorded as
    # floor_dominated instead of watch-flagged: with t_hi <= 0.5 s they
    # are scale-safe by the absolute-time bar one decade up.  A
    # floor-dominated shape whose t_hi EXCEEDS 0.5 s still lands in the
    # superlinear list - a real 0.1 -> 5 s blow-up cannot hide here.
    GROWTH_FLOOR_EPS = 0.05
    sweep_hi: dict = {}
    growth_hi: dict = {}
    superlinear_hi: list = []
    growth_watch_hi: dict = {}
    floor_dominated_hi: dict = {}
    sf_hi_name = ""
    if os.environ.get("SPARK_GRAFT_SF_SWEEP", "1") != "0":
        hi_dir = os.environ.get("SPARK_GRAFT_SF_HI_DIR") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "testdata_sf1", "sf1"
        )
        try:
            base_v = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
            hi_v = float(hi_dir.rstrip("/").rsplit("sf", 1)[-1])
        except ValueError:
            base_v = hi_v = 0.0
        # the sf1 fixtures are a pure deterministic derivation of sf0.1
        # and gitignored (~200 MB) - a fresh checkout (the driver's
        # per-round bench run) would otherwise silently skip the hi-scale
        # sweep.  Generate once (~1 min, outside every timed region); any
        # failure falls back to the old silent skip.
        if (
            not os.path.isdir(hi_dir)
            and hi_v > base_v > 0.0
            and not os.environ.get("SPARK_GRAFT_SF_HI_DIR")
            and os.path.isdir(sf_dir)
        ):
            try:
                sys.argv, _argv = ["gen_sf1", "--src", sf_dir], sys.argv
                sys.path.insert(
                    0,
                    os.path.join(
                        os.path.dirname(os.path.abspath(__file__)), "tools"
                    ),
                )
                import gen_sf1

                gen_sf1.main()
            except Exception as exc:  # noqa: BLE001 - sweep is optional
                print(f"bench: sf1 generation failed: {exc}", file=sys.stderr)
            finally:
                sys.argv = _argv
                sys.path.pop(0)
        if (
            os.path.isdir(hi_dir)
            and os.path.abspath(hi_dir) != os.path.abspath(sf_dir)
            and hi_v > base_v > 0.0
        ):
            sf_hi_name = hi_dir.rstrip("/").rsplit("sf", 1)[-1]
            os.environ["SPARK_GRAFT_CACHE"] = "1"
            os.environ.pop("SPARK_GRAFT_COLD_FANOUT", None)
            for t in catalog.TABLES:
                try:
                    catalog.load(spark, hi_dir, t).count()
                except Exception as exc:  # noqa: BLE001
                    print(f"bench: hi-sf warmup failed for {t}: {exc}",
                          file=sys.stderr)
            sweep_hi = sweep(hi_dir, skip=HI_SWEEP_SKIP)
            floor = max(calib_start, calib_end)
            ratio = math.log(hi_v / base_v)
            for n, t_hi in sweep_hi.items():
                t_base = times.get(n)
                if not (isinstance(t_hi, float) and isinstance(t_base, float)):
                    continue
                adj_hi = max(t_hi - floor, 0.005)
                adj_base = max(t_base - floor, 0.005)
                g = round(math.log(adj_hi / adj_base) / ratio, 3)
                growth_hi[n] = g
                # the hi decade is where growth verdicts are supposed to be
                # DECIDED, so every exponent > 1.1 gets a confirming
                # re-measure regardless of absolute time (VERDICT r9 item 5:
                # the old `t_hi > 0.5` pre-gate silently exempted sub-0.5 s
                # shapes - win_time_range_frame sat at 1.234 unconfirmed).
                # A confirmed exponent then lands in `superlinear_hi` when
                # its absolute time is out of the host-jitter floor, or in
                # the `growth_watch_hi` ledger when it is still sub-0.5 s -
                # watched, never silently dropped.
                if g > 1.1:
                    t_best = confirm_growth_time(n, t_hi, hi_dir)
                    # the confirmed (min) hi time IS the measurement - the
                    # ledger fold below reads sweep_hi, and leaving the
                    # unconfirmed first read there let a floor-dominated
                    # shape enter superlinear_ever on a hi time its own
                    # confirm pass had already halved (r15: join_anti
                    # 0.718 unconfirmed vs 0.270 confirmed)
                    sweep_hi[n] = t_best
                    adj_hi = max(t_best - floor, 0.005)
                    g = round(math.log(adj_hi / adj_base) / ratio, 3)
                    growth_hi[n] = g
                    if g > 1.1:
                        if t_best > 0.5:
                            superlinear_hi.append(n)
                        elif t_base - floor < GROWTH_FLOOR_EPS:
                            # slope undecidable: base time inside the
                            # floor's own swing (see guard comment above)
                            floor_dominated_hi[n] = {
                                "exponent": g,
                                "t_base": round(t_base, 4),
                                "t_hi": round(t_best, 4),
                            }
                        else:
                            growth_watch_hi[n] = {
                                "exponent": g,
                                "t_hi": round(t_best, 4),
                            }
                            if n in GROWTH_WATCH_NOTES:
                                growth_watch_hi[n]["note"] = (
                                    GROWTH_WATCH_NOTES[n]
                                )
            superlinear_hi.sort()

    # second-decade scale evidence for the 100 TB-claim family (VERDICT
    # r13 item 2): one decade (sf0.1 -> sf1) of sub-linear exponents is
    # thin support for a 100x claim, so the banded/bucketed production
    # paths are additionally swept a half-decade further - sf1 -> sf3
    # (18M-row lineitem, 150k docs, 60k vectors: the deterministic
    # factor-30 derivation of sf0.1, tools/gen_sf1.py --factor 30 with
    # the affine letter bijection keeping cross-replica token sets
    # disjoint past 26 replicas).  These seven are the operators whose
    # sub-linearity IS the 100 TB story (banded LSH, prefix-filtered two
    # stage, LSH-bucketed knn, cell-pruned IVF, contraction components,
    # bounded-round LPA, chunk-hash paragraph rewrite); an exponent that
    # holds across BOTH decades is real curvature, not fixture luck.
    # Exponents use ratio log(3) with the same floor adjustment as the
    # decade sweeps.  SPARK_GRAFT_SF3=0 disables; fixtures regenerate on
    # a fresh checkout like the sf1 set.
    SF3_BANDED = [
        "dedup_minhash_lsh",
        "dedup_two_stage",
        "sim_knn_join",
        "sim_ivf_topk",
        "dedup_cluster_components",
        "graph_label_propagation",
        "text_paragraph_dedup",
        # r15 (VERDICT r14 item 7): the two graph-audit shapes joined the
        # sweep after their r14/r15 plan changes (edge-iterator + degree
        # gate + per-app projection cache) - their first-decade exponents
        # (0.83 at sf0.1 -> sf1) are measured, the second decade was not
        "graph_triangle_count",
        "graph_clustering_coeff",
    ]
    sf3_block: dict = {}
    # restricted to the canonical sf0.1 -> sf1 layout (like the rotation):
    # a sf0.01 contract-check run must not pay the 30x generation + sweep
    if (
        sweep_hi
        and os.environ.get("SPARK_GRAFT_SF3", "1") != "0"
        and 9.0 < hi_v / base_v < 11.0
    ):
        sf3_dir = os.environ.get("SPARK_GRAFT_SF3_DIR") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "testdata_sf3", "sf3"
        )
        if not os.path.isdir(sf3_dir) and os.path.isdir(sf_dir):
            try:
                sys.argv, _argv = [
                    "gen_sf1", "--src", sf_dir, "--out", sf3_dir,
                    "--factor", "30",
                ], sys.argv
                sys.path.insert(
                    0,
                    os.path.join(
                        os.path.dirname(os.path.abspath(__file__)), "tools"
                    ),
                )
                import gen_sf1 as _gen_sf3

                _gen_sf3.main()
            except Exception as exc:  # noqa: BLE001 - sweep is optional
                print(f"bench: sf3 generation failed: {exc}", file=sys.stderr)
            finally:
                sys.argv = _argv
                sys.path.pop(0)
        if os.path.isdir(sf3_dir):
            for t in catalog.TABLES:
                try:
                    catalog.load(spark, sf3_dir, t).count()
                except Exception as exc:  # noqa: BLE001
                    print(f"bench: sf3 warmup failed for {t}: {exc}",
                          file=sys.stderr)
            # sf3 runs LATE in a long JVM, like the rotation: re-measure
            # the floor here instead of trusting the sweep-time probes
            floor = max(calib_start, calib_end, time_calibration(spark))
            t_sf1: dict = {}
            t_sf3: dict = {}
            g_sf3: dict = {}
            sup_sf3: list = []
            fdom_sf3: dict = {}
            for n in SF3_BANDED:
                fn = registry.QUERIES.get(n)
                if fn is None:
                    continue
                spark.conf.set(
                    "spark.sql.adaptive.enabled",
                    "true" if n in AQE_ON else "false",
                )
                # BOTH legs measure fresh, back-to-back, under the same
                # cache/JIT state - the first sf3 run reused sweep_hi's
                # mid-sweep sf1 reading for the headline ids and produced
                # an artifact-grade inconsistency (LPA 6.12 s from deep in
                # the hi sweep vs 1.90 s fresh at sf3: exponent -1.09,
                # pure measurement-context skew, not data)
                a = safe_time_query(fn, spark, hi_dir, runs=2)
                b = safe_time_query(fn, spark, sf3_dir, runs=2)
                spark.conf.set("spark.sql.adaptive.enabled", "true")
                t_sf1[n], t_sf3[n] = a, b
                if not (isinstance(a, float) and isinstance(b, float)):
                    continue
                ratio3 = math.log(3.0)
                g = round(
                    math.log(max(b - floor, 0.005) / max(a - floor, 0.005))
                    / ratio3,
                    3,
                )
                if g > 1.1:
                    # confirming re-measure, same discipline as the decade
                    # sweeps: a GC episode must not fake a superlinear read
                    b2 = confirm_growth_time(n, b, sf3_dir)
                    if isinstance(b2, float) and b2 < b:
                        t_sf3[n] = b = b2
                        g = round(
                            math.log(
                                max(b - floor, 0.005) / max(a - floor, 0.005)
                            )
                            / ratio3,
                            3,
                        )
                g_sf3[n] = g
                if g > 1.1:
                    if b > 0.5:
                        sup_sf3.append(n)
                    else:
                        # same decidability rule as the decade sweeps: a
                        # sub-0.5 s shape whose slope is driven by times
                        # inside the floor's own swing is recorded, not
                        # flagged (run-2 artifact: dedup_minhash_lsh read
                        # exponent 2.29 on 0.09 -> 0.24 s absolute times
                        # under a measured sustained_slowdown)
                        fdom_sf3[n] = {
                            "exponent": g,
                            "t_sf1": round(t_sf1[n], 4),
                            "t_sf3": round(b, 4),
                        }
            sf3_block = {
                "sf": 3.0,
                "base_sf": 1.0,
                "t_sf1": t_sf1,
                "t_sf3": t_sf3,
                "exponent": g_sf3,
                "superlinear": sorted(sup_sf3),
                "floor_dominated": fdom_sf3,
                # no-silent-caps disclosure: these are WARM exponents
                # under bench's per-application amortization convention -
                # the MinHash pair index, IVF centroids and graph
                # adjacency build once per (app, sf) and the best-of-2
                # takes the post-build run, so the exponents price the
                # recurring per-query work (probe/band joins, iteration
                # shuffles), not the one-time index scans.  The graph
                # shapes additionally run on a near-constant |E|: the
                # fixture replication repeats (supplier, part) pairs, so
                # their distinct edge set does not grow with the factor -
                # their scan-side growth is priced by the decade sweep's
                # full-pipeline timings, not here.
                "note": (
                    "warm per-app-amortized timings (index builds outside "
                    "the timed runs, bench convention); graph shapes run "
                    "at near-constant |E| by fixture construction"
                ),
            }
            # free the sf3 tables and indexes before the rotation re-warms
            # the base tables (same hygiene as the uncached sweep)
            artifacts.clear(sf3_dir)

    # rotating growth sweep (VERDICT r10 item 1): the headline hi sweep
    # measures ~56 shapes; the other ~190 oracled ids' scale posture was
    # argued in docstrings + plan tests but never MEASURED.  Each bench run
    # additionally times SPARK_GRAFT_ROTATE_N (default 50) non-headline
    # oracled ids at BOTH scales, staleness-first (never-measured ids first,
    # then oldest measurement - the correctness sampler's discipline), and
    # folds every measured exponent into the persistent ledger
    # tools/growth_ledger.json (committed, so coverage accumulates across
    # rounds until every oracled id carries a measured hi exponent, a watch
    # entry, or a recorded skip reason).  Rotation uses best-of-2 (the
    # ledger needs the exponent's decade, not ratchet-grade timing; any
    # exponent > 1.1 still gets the best-of-3 confirming re-measure).
    # Restricted to the one-decade sf0.1 -> sf1 layout: exponents measured
    # against a different base would not be comparable entries.
    rot_base: dict = {}
    rot_hi: dict = {}
    rot_growth: dict = {}
    rot_superlinear: list = []
    rot_watch: dict = {}
    rot_floor_dominated: dict = {}
    ledger_summary: dict = {}
    ledger_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools",
        "growth_ledger.json"
    )
    # 70 (was 50, r12): the ledger's staleness tail had 66 ids stuck at
    # seq 3 - one 50-wide pass leaves 16 of them two more rounds stale;
    # 70 clears the whole oldest cohort in this round's run and keeps the
    # ~5-round freshness bound (VERDICT r11 item 7) with ~2 min extra
    rotate_n = int(os.environ.get("SPARK_GRAFT_ROTATE_N", "70"))
    if sweep_hi and rotate_n > 0 and 9.0 < hi_v / base_v < 11.0:
        try:
            with open(ledger_path) as fh:
                ledger = json.load(fh)
        except (OSError, json.JSONDecodeError):
            ledger = {}
        seq = int(ledger.get("_seq", 0)) + 1
        ledger["_seq"] = seq
        oracled = sorted(n for n in registry.ORACLES if n in registry.QUERIES)
        pool = [
            n for n in oracled
            if n not in HEADLINE and n not in HI_SWEEP_SKIP
        ]
        # flagged-first, then staleness: an id whose LAST ledger entry
        # measured superlinear (> 1.1) re-measures every round until it
        # reads clean - without this, fixing a flagged shape leaves its
        # red entry frozen at the freshest seq, untouchable by the
        # staleness rotation for ~4 rounds (hit by the r12
        # text_token_count_bpe fix, which landed right after the sweep
        # that flagged it)
        # floor_dominated entries are excluded from the flagged-first
        # predicate: their recorded exponent is the clamp artifact the
        # r13 decidability guard names, not a red reading to chase - the
        # staleness rotation refreshes them on its normal cadence
        pool.sort(
            key=lambda n: (
                not (
                    (ledger.get(n, {}).get("exponent", 0) or 0) > 1.1
                    and not ledger.get(n, {}).get("floor_dominated")
                ),
                ledger.get(n, {}).get("seq", -1),
                n,
            )
        )
        chosen = pool[:rotate_n]
        # base-scale table caches were dropped for the uncached sweep;
        # re-warm them (CACHE=1 is still set from the hi sweep)
        for t in catalog.TABLES:
            try:
                catalog.load(spark, sf_dir, t).count()
            except Exception as exc:  # noqa: BLE001
                print(f"bench: rotation warmup failed for {t}: {exc}",
                      file=sys.stderr)
        # rotation runs LAST in a long JVM (7k+ stages by now): re-measure
        # the floor here instead of trusting the sweep-time probes - GC
        # and JIT state have moved it by then, and a stale-low floor is
        # exactly what turns sub-0.15 s base times into clamped
        # adj_base values (the r13 decidability guard's failure mode)
        floor = max(calib_start, calib_end, time_calibration(spark))
        ratio = math.log(hi_v / base_v)
        for n in chosen:
            fn = registry.QUERIES[n]
            spark.conf.set(
                "spark.sql.adaptive.enabled",
                "true" if n in AQE_ON else "false",
            )
            t_base = safe_time_query(fn, spark, sf_dir, runs=2)
            t_hi = safe_time_query(fn, spark, hi_dir, runs=2)
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            rot_base[n] = t_base
            rot_hi[n] = t_hi
            if not (isinstance(t_base, float) and isinstance(t_hi, float)):
                continue
            adj_hi = max(t_hi - floor, 0.005)
            adj_base = max(t_base - floor, 0.005)
            g = round(math.log(adj_hi / adj_base) / ratio, 3)
            fdom = False
            if g > 1.1:
                t_best = confirm_growth_time(n, t_hi, hi_dir)
                rot_hi[n] = t_best
                adj_hi = max(t_best - floor, 0.005)
                g = round(math.log(adj_hi / adj_base) / ratio, 3)
                if g > 1.1:
                    if t_best > 0.5:
                        rot_superlinear.append(n)
                    elif t_base - floor < GROWTH_FLOOR_EPS:
                        # slope undecidable at this base time (the r13
                        # decidability guard) - recorded, never flagged
                        fdom = True
                        rot_floor_dominated[n] = {
                            "exponent": g,
                            "t_base": round(t_base, 4),
                            "t_hi": round(rot_hi[n], 4),
                        }
                    else:
                        rot_watch[n] = {
                            "exponent": g,
                            "t_hi": round(rot_hi[n], 4),
                        }
                        if n in GROWTH_WATCH_NOTES:
                            rot_watch[n]["note"] = GROWTH_WATCH_NOTES[n]
            rot_growth[n] = g
            ledger[n] = {
                "seq": seq,
                "exponent": g,
                "t_base": round(t_base, 4),
                "t_hi": round(rot_hi[n], 4),
            }
            if fdom:
                ledger[n]["floor_dominated"] = True
        rot_superlinear.sort()
        # headline exponents measured this run land in the same ledger -
        # it is the single record of who carries a measured hi exponent
        for n, g in growth_hi.items():
            th, tb = sweep_hi.get(n), times.get(n)
            if isinstance(th, float) and isinstance(tb, float):
                ledger[n] = {
                    "seq": seq, "exponent": g,
                    "t_base": round(tb, 4), "t_hi": round(th, 4),
                }
                if n in floor_dominated_hi:
                    ledger[n]["floor_dominated"] = True
        for n, reason in HI_SWEEP_SKIP.items():
            ledger[n] = {"seq": seq, "skip": reason}
        try:
            with open(ledger_path, "w") as fh:
                json.dump(ledger, fh, indent=1, sort_keys=True)
        except OSError as exc:
            print(f"bench: ledger write failed: {exc}", file=sys.stderr)
        measured = [
            n for n in oracled
            if isinstance(ledger.get(n), dict) and "exponent" in ledger[n]
        ]
        skipped = [
            n for n in oracled
            if isinstance(ledger.get(n), dict) and "skip" in ledger[n]
        ]
        pending = [
            n for n in oracled
            if n not in set(measured) | set(skipped)
        ]
        ledger_summary = {
            "oracled_total": len(oracled),
            "measured": len(measured),
            "skipped": len(skipped),
            "pending": len(pending),
            "superlinear_ever": sorted(
                n for n in measured
                if (ledger[n].get("exponent") or 0) > 1.1
                and ledger[n].get("t_hi", 0) > 0.5
                # floor-dominated slopes are "recorded, never flagged"
                # (the r13 decidability guard) - without this exclusion a
                # clamped 5 ms adj_base manufactures the exponent
                and not ledger[n].get("floor_dominated")
            ),
        }

    # streaming-tier throughput telemetry (VERDICT r10 item 6): the 20
    # rows-only streaming ids have correctness duals but the artifact had
    # no rate numbers.  One real multi-batch run of the ingest-pipeline
    # shape (watermark + window + agg, maxFilesPerTrigger=1) yields rec/s
    # and per-batch trigger latency, recorded next to the reference
    # kernel's 144k rec/s/core line (BASELINE.md - a pass-through loop,
    # so the comparison is context, not apples-to-apples).
    streaming_tel: dict = {}
    if os.environ.get("SPARK_GRAFT_STREAM_TELEMETRY", "1") != "0":
        try:
            from pei_nwdaf_data_ingestion_spark.queries import (
                streaming_queries as _sq,
            )

            streaming_tel = _sq.ingest_throughput(spark, sf_dir)
            # streaming republish gate (VERDICT r13 item 1, second leg):
            # r13 shipped a 40% streaming drop that was box load, not a
            # plan change.  The two legs the verdict tracks carry idle-box
            # floor pins in the ratchet file; a run below either floor is
            # re-measured (bounded, with a settle window) and the payload
            # records every retry.  Still-below-floor after retries
            # publishes WITH the floors and the run's calibration factor
            # attached, so the artifact attributes its own cause instead
            # of reading as a silent regression.
            def _legs(tel: dict) -> dict:
                return {
                    "passthrough": (tel.get("passthrough") or {}).get(
                        "rec_per_sec"
                    ),
                    "stateful_tuned": (tel.get("stateful_tuned") or {}).get(
                        "rec_per_sec"
                    ),
                }

            floors = {
                "passthrough": ratchet.get("_streaming_passthrough_floor"),
                "stateful_tuned": ratchet.get(
                    "_streaming_stateful_tuned_floor"
                ),
            }

            def _below(tel: dict) -> list:
                got = _legs(tel)
                return sorted(
                    k for k, fl in floors.items()
                    if isinstance(fl, (int, float))
                    and isinstance(got.get(k), (int, float))
                    and got[k] < fl
                )

            stream_retries = []
            for _ in range(2):
                if not _below(streaming_tel):
                    break
                time.sleep(20)  # settle: transient co-load drains
                tel2 = _sq.ingest_throughput(spark, sf_dir)
                stream_retries.append(_legs(tel2))
                # adopt the retry when it is the better coherent run
                # (higher sum over the two gated legs); never splice legs
                # from different runs into one record
                def _score(tel: dict) -> float:
                    return sum(
                        v for v in _legs(tel).values()
                        if isinstance(v, (int, float))
                    )

                if _score(tel2) > _score(streaming_tel):
                    streaming_tel = tel2
            streaming_tel["republish"] = {
                "floors": floors,
                "retries": stream_retries,
                "below_floor": _below(streaming_tel),
            }
            streaming_tel["reference_rec_per_sec_per_core"] = 144_000
            streaming_tel["note"] = (
                "reference line is a pass-through normalize kernel; this "
                "run pays watermark state + windowed agg + commit per batch"
            )
        except Exception as exc:  # noqa: BLE001 - telemetry must not kill bench
            print(f"bench: streaming telemetry failed: {exc}", file=sys.stderr)

    def total_ok(sweep_out: dict) -> float:
        return round(sum(v for v in sweep_out.values() if isinstance(v, float)), 4)

    errors = {n: v for n, v in {**times, **uncached}.items() if isinstance(v, str)}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # cache invariant (VERDICT r5 item 2): a warm table cache that LOSES to
    # cold parquet scans is always a layout bug (r5: coalesce(1)-cached
    # documents starved dedup_ppjoin_prefix 3.3x) - make it machine-visible.
    # The same absolute 0.25 s slack as the ratchet: the uncached sweep runs
    # SECOND in the process, so every plan is JIT-compiled by then - on
    # sub-second shapes that ordering advantage alone shows as a spurious
    # 1.5x "loss" that has nothing to do with cache layout.
    cache_regressions = sorted(
        n
        for n in times
        if isinstance(times.get(n), float)
        and isinstance(uncached.get(n), float)
        and times[n] > 1.5 * uncached[n] + 0.25
    )
    # per-query ratchet (VERDICT r5 item 7): best-known warm time per query,
    # checked in at tools/bench_ratchet.json.  A query is flagged when it
    # exceeds 2x its ratchet PLUS an absolute 0.25 s slack: sub-second
    # shapes are dominated by Spark's fixed per-query overhead, whose
    # host-to-host jitter (measured 0.1-0.5 s on this virtualized box) is
    # additive, not proportional - a pure relative threshold flags noise on
    # every 0.1 s shape while the slack never hides a real plan regression
    # on the multi-second shapes the ratchet exists for.
    regressions = {
        n: {"warm": times[n], "best_known": ratchet[n]}
        for n in times
        if isinstance(times.get(n), float)
        and isinstance(ratchet.get(n), (int, float))
        and times[n] > 2.0 * ratchet[n] + 0.25
    }
    # host-noise gate (VERDICT r6 item 4): the calibration probe's cost is
    # host-only; when it exceeds its checked-in idle-box bound the run is
    # contention-contaminated and the ratchet/cache flags would measure the
    # HOST, not the plans - report them separately so a loaded driver box
    # reads as "noisy run", never as a regression.
    calibration = max(calib_start, calib_end)
    calib_bound = ratchet.get("_calibration_bound")
    calib_heavy = max(calib_heavy_start, calib_heavy_end)
    calib_heavy_bound = ratchet.get("_calibration_heavy_bound")
    noisy_host = (
        isinstance(calib_bound, (int, float)) and calibration > calib_bound
    ) or (
        isinstance(calib_heavy_bound, (int, float))
        and calib_heavy > calib_heavy_bound
    )
    # relative calibration (VERDICT r8 item 6): the absolute bound catches
    # spikes; a UNIFORMLY loaded or cache-cold box passes it while every
    # query reads 1.3-1.7x its idle-box ratchet.  Comparing the probes to
    # their OWN best-known idle cost detects that sustained drift - both
    # probes (start AND end) above ~1.3x best means the whole run's host
    # was slow, so per-query upticks that round are host, not plans.
    calib_best = ratchet.get("_calibration_best")
    calib_vs_ratchet = (
        round(min(calib_start, calib_end) / calib_best, 3)
        if isinstance(calib_best, (int, float)) and calib_best > 0
        else None
    )
    # the HEAVY probe (r9 item 7) is the one that senses GC/JIT/memory
    # pressure; either probe family sustained above ~1.3x its own idle
    # best means the run's per-query upticks price the host, not plans
    calib_heavy_best = ratchet.get("_calibration_heavy_best")
    calib_heavy_vs_ratchet = (
        round(min(calib_heavy_start, calib_heavy_end) / calib_heavy_best, 3)
        if isinstance(calib_heavy_best, (int, float)) and calib_heavy_best > 0
        else None
    )
    sustained_slowdown = (
        isinstance(calib_best, (int, float))
        and calib_best > 0
        and min(calib_start, calib_end) > 1.3 * calib_best
    ) or (
        isinstance(calib_heavy_best, (int, float))
        and calib_heavy_best > 0
        and min(calib_heavy_start, calib_heavy_end) > 1.3 * calib_heavy_best
    )
    if noisy_host:
        suppressed = {
            "cache_regressions": cache_regressions,
            "regressions": regressions,
        }
        cache_regressions, regressions = [], {}
    # anchored self-description (VERDICT r13 item 1): the nine anchored
    # shapes publish their aggregate against the sum of their ratchet
    # pins, so BENCH_rN states by itself whether its anchored numbers are
    # idle-grade (vs_pins <= ~1.2) or load-contaminated - a reader never
    # again has to re-measure to interpret the file.
    anchored_pin_total = round(
        sum(
            ratchet[n]
            for n in ANCHORED
            if isinstance(ratchet.get(n), (int, float))
        ),
        4,
    )
    anchored_warm_total = round(
        sum(times[n] for n in ANCHORED if isinstance(times.get(n), float)),
        4,
    )
    anchored_block = {
        "warm_total": anchored_warm_total,
        "ratchet_pin_total": anchored_pin_total,
        "vs_pins": (
            round(anchored_warm_total / anchored_pin_total, 3)
            if anchored_pin_total
            else None
        ),
        "retried": anchored_retry,
    }
    payload = {
        "metric": "headline_queries_total_warm",
        "value": total_ok(times),
        "unit": "sec",
        "queries": times,
        "uncached_value": total_ok(uncached),
        "uncached_queries": uncached,
        "calibration": {
            "start": calib_start,
            "end": calib_end,
            "bound": calib_bound,
            "heavy_start": calib_heavy_start,
            "heavy_end": calib_heavy_end,
            "heavy_bound": calib_heavy_bound,
            "heavy_vs_ratchet": calib_heavy_vs_ratchet,
            "noisy_host": noisy_host,
            "vs_ratchet": calib_vs_ratchet,
            "sustained_slowdown": sustained_slowdown,
        },
        "anchored": anchored_block,
        "cache_regressions": cache_regressions,
        "regressions": regressions,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if sweep_lo:
        payload["sf_lo"] = (
            float(sf_lo) if sf_lo.replace(".", "").isdigit() else sf_lo
        )
        payload["lo_queries"] = sweep_lo
        payload["growth_exponent"] = growth
        payload["superlinear"] = superlinear
    if sweep_hi:
        payload["sf_hi"] = (
            float(sf_hi_name)
            if sf_hi_name.replace(".", "").isdigit()
            else sf_hi_name
        )
        payload["hi_queries"] = sweep_hi
        payload["growth_exponent_hi"] = growth_hi
        payload["superlinear_hi"] = superlinear_hi
        payload["growth_watch_hi"] = growth_watch_hi
        payload["growth_floor_dominated_hi"] = floor_dominated_hi
        payload["hi_skipped"] = HI_SWEEP_SKIP
    if sf3_block:
        payload["sf3_banded"] = sf3_block
    if rot_growth or ledger_summary:
        payload["rotation_base_queries"] = rot_base
        payload["rotation_hi_queries"] = rot_hi
        payload["rotation_growth_exponent_hi"] = rot_growth
        payload["rotation_superlinear_hi"] = rot_superlinear
        payload["rotation_growth_watch_hi"] = rot_watch
        payload["rotation_floor_dominated_hi"] = rot_floor_dominated
        payload["growth_ledger"] = ledger_summary
    if streaming_tel:
        payload["streaming"] = streaming_tel
    if noisy_host:
        payload["flags_suppressed_by_noise"] = suppressed
    if errors:
        payload["errors"] = sorted(errors)
    # artifact contract (VERDICT r8 item 1): the driver captures only a
    # ~2000-char TAIL of stdout, so the r7/r8 full payloads (40-query
    # dicts x 4 sweeps) truncated to parsed:null and the rounds' headline
    # numbers were lost.  The FULL payload goes to a sidecar file; stdout
    # gets a COMPACT summary (totals + every flag list + calibration) as
    # the LAST line, small enough to always survive the tail whole.  The
    # warm per-query dict is included in the summary only while it fits.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(repo_dir, "BENCH_full.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: sidecar write failed: {exc}", file=sys.stderr)
    # per-round snapshot (VERDICT r10 item 8): BENCH_full.json is
    # overwritten every run, so prior rounds' per-query detail survived only
    # in git.  The current round number is inferred as max(BENCH_r{N}) + 1
    # (the driver writes BENCH_r{N}.json when the round ENDS, so during
    # round N only r1..N-1 exist); re-runs within a round overwrite the
    # same snapshot, which is the wanted freshest-run semantics.  Skipped
    # for off-scale contract checks (sf != 0.1) so a sf0.01 smoke run never
    # clobbers the round's real snapshot.
    if sf == "0.1":
        import re as _re

        rounds = [
            int(m.group(1))
            for f in os.listdir(repo_dir)
            if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        snap = os.path.join(
            repo_dir, f"BENCH_full_r{max(rounds, default=0) + 1:02d}.json"
        )
        try:
            with open(snap, "w") as fh:
                json.dump(payload, fh, indent=1, sort_keys=True)
        except OSError as exc:
            print(f"bench: snapshot write failed: {exc}", file=sys.stderr)
    print(stdout_line(payload))
    spark.stop()


if __name__ == "__main__":
    main()
