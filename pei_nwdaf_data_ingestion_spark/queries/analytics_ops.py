"""Round-6 (session 2) analytics extensions: EWMA smoothing, OHLC
resampling, graph node-similarity, stratified K-fold assignment, corpus
quality-rule audit, duplicated-span detection, Count-Min frequency
sketching, and integer-exact random projection.

Same standing disciplines as corpus_ops.py:
- cross-engine exactness: integer arithmetic wherever a float sum would be
  order-dependent; where floats are unavoidable the arithmetic is spelled
  with IDENTICAL literal weights and left-associated term order on both
  engines (one rounding per op, same op sequence => same bits), then
  functions.pround;
- 100 TB posture documented per operator: which shuffles exist, what
  broadcasts, and how skew/super-nodes are handled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import gated_broadcast, load
from ..functions import local_frame, pround
from ..registry import query

# ---------------------------------------------------------------------------
# EWMA smoothing
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_LAGS = 8  # current day + 7 lags; (1-a)^8 ~= 0.058 tail mass renormed away
_EWMA_W = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** k for k in range(_EWMA_LAGS)]


def _ewma_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"lag(n, {k}) OVER w AS l{k}" for k in range(1, _EWMA_LAGS)
    )
    num = f"{_EWMA_W[0]!r} * n" + "".join(
        f" + {_EWMA_W[k]!r} * coalesce(CAST(l{k} AS DOUBLE), 0.0)"
        for k in range(1, _EWMA_LAGS)
    )
    den = f"{_EWMA_W[0]!r}" + "".join(
        f" + (CASE WHEN l{k} IS NULL THEN 0.0 ELSE {_EWMA_W[k]!r} END)"
        for k in range(1, _EWMA_LAGS)
    )
    return f"""
    WITH d AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, day, n,
             {lag_cols}
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, n,
           floor((({num}) / ({den})) * 10000.0 + 0.5) / 10000.0 AS ewma
    FROM l
    """


@query("win_ewma_smooth", oracle=_ewma_oracle())
def win_ewma_smooth(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average of each event type's daily
    volume - the standard trend smoother (alpha = 0.3), spelled as the
    TRUNCATED convolution sum_{k<8} w_k * x_{t-k} renormalized over the
    lags that exist (series start included; the dropped tail is
    (1-a)^8 ~= 5.8% of the mass, absorbed by the renormalization).  The
    recursive definition is hostile to both engines and to parity; the
    truncated-kernel form is 7 lag() calls over ONE (event_type, day)
    window sort, and every float term is the same literal weight times an
    exact integer count, combined in the same left-associated order on
    both engines - one IEEE rounding per op, same op sequence, identical
    bits (then pround).  The window runs over the ~150-row aggregated
    daily frame, never the raw stream: one data-volume shuffle (the daily
    count agg).  At 100 TB the frame stays |types| x |days| rows - the
    smoother's cost is fixed by the calendar, not the data."""
    ev = load(spark, sf, "events")
    d = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lags = [F.lag("n", k).over(w) for k in range(1, _EWMA_LAGS)]
    l = d.select("event_type", "day", "n", *[c.alias(f"l{k}") for k, c in enumerate(lags, 1)])
    num = F.lit(_EWMA_W[0]) * F.col("n")
    den = F.lit(_EWMA_W[0])
    for k in range(1, _EWMA_LAGS):
        lk = F.col(f"l{k}")
        num = num + F.lit(_EWMA_W[k]) * F.coalesce(lk.cast("double"), F.lit(0.0))
        den = den + F.when(lk.isNull(), 0.0).otherwise(_EWMA_W[k])
    return l.select(
        "event_type", "day", "n", pround(num / den, 4).alias("ewma")
    )


# ---------------------------------------------------------------------------
# OHLC resampling
# ---------------------------------------------------------------------------


@query(
    "time_resample_ohlc",
    oracle="""
    WITH e AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             ts, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e)
    SELECT event_type, day,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS volume_cents
    FROM r GROUP BY event_type, day
    """,
)
def time_resample_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC downsampling (the TSDB / financial `resample` shape): per
    (event_type, day) bar - first value (open), max (high), min (low),
    last value (close), event count and total volume.  Values are INTEGER
    cents (per-row flooring before any aggregate - the agg_decimal_money
    discipline), so every bar field is order-independent and exact.
    Open/close are min_by/max_by keyed by the composite (ts, event_id) -
    a SINGLE aggregate with map-side partial combine (struct-keyed
    min_by plans as SortAggregate: the sort is partition-LOCAL on the
    bar key, and the one exchange carries 8 partial accumulator fields
    per bar, never raw events - pinned in test_plan_quality).  The
    oracle's row_number spelling is the same semantics; min_by is the
    plan you want at 100 TB because first/last-in-bar reduces locally on
    every map task before any shuffle.  Skewed bars degrade to AQE's
    runtime splitting because every accumulator is algebraic."""
    ev = load(spark, sf, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    key = F.struct("ts", "event_id")
    e = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        cents.alias("cents"),
        key.alias("k"),
    )
    return e.groupBy("event_type", "day").agg(
        F.min_by("cents", "k").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", "k").alias("close_cents"),
        F.count("*").alias("n_events"),
        F.sum("cents").alias("volume_cents"),
    )


# ---------------------------------------------------------------------------
# graph node similarity (common neighbors / Jaccard)
# ---------------------------------------------------------------------------

_CN_PART_CAP = 64  # drop super-node parts: |pairs| per part is deg^2


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pdeg AS (
      SELECT p, count(*) AS deg FROM e0 GROUP BY p),
    e AS (
      SELECT e0.s, e0.p FROM e0 JOIN pdeg ON e0.p = pdeg.p
      WHERE pdeg.deg <= {_CN_PART_CAP}),
    sdeg AS (
      SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2)
    SELECT p.s1, p.s2, d1.deg AS deg1, d2.deg AS deg2, p.n_common,
           CAST(floor((p.n_common * 1000000.0)
                      / (d1.deg + d2.deg - p.n_common)) AS BIGINT)
             AS jaccard_micro
    FROM pairs p
    JOIN sdeg d1 ON d1.s = p.s1
    JOIN sdeg d2 ON d2.s = p.s2
    ORDER BY jaccard_micro DESC, p.s1, p.s2
    LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Node similarity by common neighbors: top-20 supplier pairs by
    Jaccard overlap of their part sets in the co-purchase graph - the
    link-prediction / entity-resolution primitive (GraphFrames'
    `nodeSimilarity` shape).  The candidate stage is the inverted-index
    equi self-join on part id - pairs are generated ONLY where an actual
    common neighbor exists, never all-pairs - and super-node parts
    (degree > {_CN_PART_CAP}) are dropped FIRST, because each part
    contributes deg^2 candidate rows; that df-cap is the standard
    scale guard (same posture as dedup_winnowing's df cap), applied
    identically in the oracle so semantics stay aligned.  Supplier
    degrees are computed on the SAME capped edge set (so jaccard <= 1 by
    construction) and joined back - a broadcast-sized dim at any scale
    (|suppliers| rows).  Jaccard is an exact integer micro-ratio; the
    top-20 breaks ties on (s1, s2).  Shuffles: edge distinct, part-degree
    agg, the pair join + pair agg - all hash-partitioned on bounded
    keys."""
    li = load(spark, sf, "lineitem")
    e0 = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    pdeg = e0.groupBy("p").agg(F.count("*").alias("pd"))
    e = e0.join(pdeg.filter(F.col("pd") <= _CN_PART_CAP), "p").select("s", "p")
    sdeg = e.groupBy("s").agg(F.count("*").alias("deg"))
    a = e.select(F.col("s").alias("s1"), "p")
    b = e.select(F.col("s").alias("s2"), F.col("p").alias("pb"))
    pairs = (
        a.join(b, (F.col("p") == F.col("pb")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_common"))
    )
    d1 = F.broadcast(sdeg.select(F.col("s").alias("s1"), F.col("deg").alias("deg1")))
    d2 = F.broadcast(sdeg.select(F.col("s").alias("s2"), F.col("deg").alias("deg2")))
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "deg1",
            "deg2",
            "n_common",
            F.floor(
                (F.col("n_common") * 1000000.0)
                / (F.col("deg1") + F.col("deg2") - F.col("n_common"))
            )
            .cast("long")
            .alias("jaccard_micro"),
        )
        .orderBy(F.desc("jaccard_micro"), F.asc("s1"), F.asc("s2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# stratified K-fold assignment
# ---------------------------------------------------------------------------

_KFOLDS = 5


@query(
    "pipeline_kfold_stratified",
    oracle=f"""
    WITH a AS (
      SELECT lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS INTEGER) % {_KFOLDS} AS fold,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents),
    f AS (
      SELECT lang, fold,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM a GROUP BY lang, fold),
    t AS (
      SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
      FROM f GROUP BY lang)
    SELECT f.lang, f.fold, f.n_docs, f.n_tokens,
           CAST((f.n_docs * 1000000) // t.lang_total AS BIGINT)
             AS share_micro
    FROM f JOIN t ON f.lang = t.lang
    """,
)
def pipeline_kfold_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified K-fold assignment (K = {_KFOLDS}) with its
    balance report: every document lands in exactly one fold, decided by
    the first 16 bits of md5(doc_id) mod K - a pure function of the data
    (reproducible across engines, re-runs, partitionings; a seeded
    df.randomSplit is none of those), the same key-hash discipline as
    sample_hash_det / pipeline_shuffle_shard.  Stratification is by
    language: the report shows each fold's share WITHIN its language
    stratum in integer micro-units, which is how you verify hash-mod
    folds are balanced enough for CV (they concentrate at ~1/K by the
    law of large numbers; a skewed stratum flags a doc_id-space
    pathology).  Fold assignment itself is map-side zero-shuffle; the
    report is one hash agg plus a per-lang rollup joined back (broadcast
    - |langs| rows).  The leakage complement is dedup_cross_split_leakage,
    which audits near-dup pairs STRADDLING folds."""
    d = load(spark, sf, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % _KFOLDS
    )
    a = d.select(
        "lang",
        fold.alias("fold"),
        F.size(F.split("text", " ")).cast("long").alias("nt"),
    )
    f = a.groupBy("lang", "fold").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens")
    )
    t = f.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return f.join(F.broadcast(t), "lang").select(
        "lang",
        "fold",
        "n_docs",
        "n_tokens",
        F.expr("CAST((n_docs * 1000000) div lang_total AS BIGINT)").alias(
            "share_micro"
        ),
    )


# ---------------------------------------------------------------------------
# corpus quality-rule audit (Gopher/MassiveText-style)
# ---------------------------------------------------------------------------


@query(
    "text_gopher_rules",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS sumlen,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x = 'the' OR x = 'a')) AS BIGINT)
               AS n_stop,
             CAST(len(list_distinct(list_transform(
                    range(1, len(string_split(text, ' '))),
                    i -> string_split(text, ' ')[i] || ' '
                         || string_split(text, ' ')[i+1]))) AS BIGINT)
               AS n_dbig
      FROM documents),
    p AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN nt >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
             CAST(sum(CASE WHEN 3 * nt <= sumlen AND sumlen <= 10 * nt
                           THEN 1 ELSE 0 END) AS BIGINT) AS p2,
             CAST(sum(CASE WHEN 50 * n_stop >= nt THEN 1 ELSE 0 END)
                  AS BIGINT) AS p3,
             CAST(sum(CASE WHEN 2 * n_dbig >= nt - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS p4
      FROM t GROUP BY lang)
    SELECT lang, 'min_words' AS rule, n_docs, p1 AS n_pass,
           CAST((p1 * 1000000) // n_docs AS BIGINT) AS pass_micro FROM p
    UNION ALL
    SELECT lang, 'mean_word_len', n_docs, p2,
           CAST((p2 * 1000000) // n_docs AS BIGINT) FROM p
    UNION ALL
    SELECT lang, 'stopword_frac', n_docs, p3,
           CAST((p3 * 1000000) // n_docs AS BIGINT) FROM p
    UNION ALL
    SELECT lang, 'bigram_dup', n_docs, p4,
           CAST((p4 * 1000000) // n_docs AS BIGINT) FROM p
    """,
)
def text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveText-style quality-rule AUDIT matrix: per language,
    the independent pass rate of each cleaning rule - min word count,
    mean word length in [3, 10] (spelled integer: 3*nt <= sum word chars
    <= 10*nt; sum word chars = len(text) minus spaces, zero extra
    passes), stopword fraction >= 2% (the 'has function words' signal -
    the fixture vocabulary carries 'the'/'a'), and duplicate-bigram cap
    (distinct bigrams must cover >= half the bigram positions).  This is
    the rule-calibration view a pipeline team reads BEFORE wiring rules
    into the sequential drop funnel (pipeline_filter_funnel is the
    composed counterpart; this one answers 'which rule would fire, per
    stratum, independently').  Everything is per-row column math over one
    scan - the bigram distinct runs inside transform/array_distinct on
    the already-split token array, no explode - followed by ONE per-lang
    hash agg fanned into 4 report rows with stack().  Pass rates are
    integer micro-units (floor div).  Zero joins, one tiny shuffle."""
    d = load(spark, sf, "documents")
    # tokenize ONCE into a materialized column: the bigram lambda below
    # otherwise re-evaluates split(text) per element (the _bigrams lesson
    # - ~2 re-tokenizations per bigram position per row)
    tk = d.select("lang", "text", F.split("text", " ").alias("tk"))
    t = tk.select(
        "lang",
        F.size("tk").cast("long").alias("nt"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long").alias("sumlen"),
        F.size(F.filter(F.col("tk"), lambda x: x.isin("the", "a"))).cast("long").alias("n_stop"),
        F.size(
            F.array_distinct(
                F.expr(
                    # guard: sequence(0, -1) is DESCENDING under Spark
                    # semantics and [i+1] would index past the array under
                    # ANSI mode, so 1-token docs must short-circuit to an
                    # empty bigram set exactly like the oracle's range(1,1)
                    "CASE WHEN size(tk) >= 2 THEN"
                    " transform(sequence(0, size(tk) - 2),"
                    " i -> concat(tk[i], ' ', tk[i+1]))"
                    " ELSE array() END"
                )
            )
        )
        .cast("long")
        .alias("n_dbig"),
    )
    p = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("nt") >= 30, 1).otherwise(0)).alias("p1"),
        F.sum(
            F.when(
                (3 * F.col("nt") <= F.col("sumlen"))
                & (F.col("sumlen") <= 10 * F.col("nt")),
                1,
            ).otherwise(0)
        ).alias("p2"),
        F.sum(F.when(50 * F.col("n_stop") >= F.col("nt"), 1).otherwise(0)).alias("p3"),
        F.sum(F.when(2 * F.col("n_dbig") >= F.col("nt") - 1, 1).otherwise(0)).alias(
            "p4"
        ),
    )
    return p.select(
        "lang",
        "n_docs",
        F.expr(
            "stack(4, 'min_words', p1, 'mean_word_len', p2,"
            " 'stopword_frac', p3, 'bigram_dup', p4) AS (rule, n_pass)"
        ),
    ).select(
        "lang",
        "rule",
        "n_docs",
        "n_pass",
        F.expr("CAST((n_pass * 1000000) div n_docs AS BIGINT)").alias("pass_micro"),
    )


# ---------------------------------------------------------------------------
# duplicated-span detection (C4-style intra-corpus span dedup)
# ---------------------------------------------------------------------------

_SPAN_W = 8  # tokens per span


@query(
    "dedup_span_repeats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents),
    s AS (
      SELECT t.doc_id, t.source,
             md5(array_to_string(t.toks[r.i:r.i+{_SPAN_W - 1}], ' ')) AS h
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks) - {_SPAN_W - 2})) AS i) r),
    rep AS (
      SELECT h FROM s GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    per_doc AS (
      SELECT s.doc_id, s.source,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rep
      FROM s LEFT JOIN rep ON s.h = rep.h
      GROUP BY s.doc_id, s.source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_rep > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_repeat,
           CAST(sum(n_spans) AS BIGINT) AS n_spans,
           CAST(sum(n_rep) AS BIGINT) AS n_rep_positions,
           CAST((sum(n_rep) * 1000000) // sum(n_spans) AS BIGINT)
             AS repeat_micro
    FROM per_doc GROUP BY source
    """,
)
def dedup_span_repeats(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style duplicated-SPAN detection: every {_SPAN_W}-token sliding
    window is hashed; a span occurring in >= 2 DISTINCT documents is a
    repeat, and the report shows, per source, how much of its span mass
    is repeated - the signal C4's 'discard duplicated three-sentence
    spans' rule acts on, at finer grain than whole-document dedup
    (dedup_exact) or pairwise near-dup (dedup_near_jaccard): boilerplate
    headers and templated passages repeat across otherwise-distinct
    docs.  Spans are md5'd INSIDE the per-row transform (map-side 1->N
    explode of ~nt positions per doc; only the 32-char hash leaves the
    row, never the span text - at 100 TB that is the difference between
    shuffling the corpus 8x and shuffling fixed-width keys).  Two
    shuffles: the distinct-doc count per span hash, and the span->repeat
    semi join on the same hash key (co-partitioned under AQE); the
    per-doc and per-source rollups reuse small frames.  All integer."""
    d = load(spark, sf, "documents")
    # tokenize ONCE into a materialized column before the span lambda:
    # higher-order lambdas re-evaluate embedded expression subtrees PER
    # ELEMENT (the _bigrams lesson), so inlining split(text) into the
    # slice re-tokenized each doc ~nt times per row
    spans = d.select("doc_id", "source", F.split("text", " ").alias("tk")).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                # guard: for docs under _SPAN_W tokens sequence(1, size-7)
                # turns DESCENDING (e.g. [1,0,-1]) and slice(..., 0, 8)
                # throws INVALID_PARAMETER_VALUE.START; the oracle's
                # range(1, len-6) yields zero spans there, so short docs
                # must contribute an empty span list (explode drops them,
                # matching the oracle's LATERAL producing no rows)
                f"CASE WHEN size(tk) >= {_SPAN_W} THEN"
                f" transform(sequence(1, size(tk) - {_SPAN_W - 1}),"
                f" i -> md5(array_join(slice(tk, i, {_SPAN_W}), ' ')))"
                f" ELSE array() END"
            )
        ).alias("h"),
    )
    rep = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_rep"))
    )
    per_doc = (
        spans.join(rep, "h", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("is_rep"), F.lit(0))).alias("n_rep"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_rep") > 0, 1).otherwise(0)).alias("n_docs_with_repeat"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_rep").alias("n_rep_positions"),
        F.expr("CAST((sum(n_rep) * 1000000) div sum(n_spans) AS BIGINT)").alias(
            "repeat_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 128


def _cm_bucket_sql(r: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({r} AS VARCHAR) || ':' ||"
        f" CAST({key} AS VARCHAR)), 1, 6)) AS BIGINT) % {_CM_WIDTH}"
    )


@query(
    "agg_countmin_topk",
    oracle=f"""
    WITH quad AS (
      SELECT e.user_id, r.r, {_cm_bucket_sql("r.r", "e.user_id")} AS bucket
      FROM events e, (SELECT unnest(range(0, {_CM_DEPTH})) AS r) r),
    sketch AS (
      SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM quad GROUP BY r, bucket),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 10),
    est AS (
      SELECT x.user_id, x.exact_n, CAST(min(s.cnt) AS BIGINT) AS est_n
      FROM exact x, (SELECT unnest(range(0, {_CM_DEPTH})) AS r) r
      JOIN sketch s
        ON s.r = r.r AND s.bucket = {_cm_bucket_sql("r.r", "x.user_id")}
      GROUP BY x.user_id, x.exact_n)
    SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount
    FROM est
    """,
)
def agg_countmin_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode & Muthukrishnan '05):
    a {_CM_DEPTH}x{_CM_WIDTH} counter matrix - each event increments one
    bucket per hash row - queried for the top-10 heaviest users and
    compared against their exact counts.  The sketch is what you SHIP at
    100 TB: {_CM_DEPTH * _CM_WIDTH} integers summarize any stream, it
    merges across partitions/days by element-wise addition (the same
    map-side combine the hash agg below already does), and the estimate
    errors are one-sided (est >= exact, pinned in tests) with bound
    eps = e/{_CM_WIDTH} of total mass per row.  Hashes are md5-derived
    (engine-portable, the pipeline_feature_hashing discipline).  Build =
    one explode x{_CM_DEPTH} + a hash agg onto <= {_CM_DEPTH * _CM_WIDTH}
    cells (tiny, perfectly combinable - the shuffle carries at most
    {_CM_DEPTH * _CM_WIDTH} rows per map task regardless of data size);
    probe = broadcast 10-row exact top-K against the sketch cells.  The
    exact top-10 here is the TEST harness for the sketch, not the scale
    path - at 100 TB the heavy-hitter list itself comes from the sketch +
    a heap (or stream_windowed_topk)."""
    ev = load(spark, sf, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r"), F.col("user_id"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % _CM_WIDTH
    )
    quad = ev.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))).alias("r")
    )
    sketch = (
        quad.select("r", bucket.alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(10)
    )
    probes = F.broadcast(
        exact.select(
            "user_id",
            "exact_n",
            F.explode(F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))).alias("r"),
        ).select("user_id", "exact_n", "r", bucket.alias("bucket"))
    )
    est = (
        probes.join(sketch, ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# integer-exact signed random projection (JL / SimHash family)
# ---------------------------------------------------------------------------

_RP_OUT_DIMS = 16


@query(
    "sim_random_projection",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, i.i, j.j,
             CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 10000.0 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
      CROSS JOIN (SELECT unnest(range(0, {_RP_OUT_DIMS})) AS j) j
      -- explode SKIPS NULL vectors (nothing to project - NULL sweep, r8)
      WHERE embedding IS NOT NULL),
    p AS (
      SELECT vec_id, j,
             CAST(sum(CASE WHEN (instr('0123456789abcdef',
                        substr(md5(CAST(i - 1 AS VARCHAR) || ','
                               || CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 0
                           THEN qv ELSE -qv END) AS BIGINT) AS pv
      FROM q GROUP BY vec_id, j)
    SELECT vec_id,
           string_agg(j || ':' || pv, ',' ORDER BY j) AS proj,
           CAST(sum(abs(pv)) AS BIGINT) AS l1_norm
    FROM p GROUP BY vec_id
    """,
)
def sim_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Signed random projection 64 -> {_RP_OUT_DIMS} dims (the
    Johnson-Lindenstrauss / SimHash family: Achlioptas-style +-1 signs) in
    INTEGER arithmetic end to end: components are micro-quantized
    (floor(v * 1e4 + 0.5), exact - float32 -> float64 widening is lossless)
    BEFORE the signed sum, so the projection is an order-independent
    integer aggregate - bit-identical across engines, partitionings and
    scales, where a float dot product would drift with summation order.
    The sign matrix is never materialized: sign(i, j) = parity of the
    first md5 hex digit of "i,j" - a pure function computed inline on both
    engines (the same md5-digit discipline as pipeline_mix_sample).  Plan:
    posexplode (map-side 1->64) x {_RP_OUT_DIMS} output dims, ONE hash agg
    keyed (vec_id, j) with map-side combine, then the per-vector render
    agg on the same key prefix.  At 100 TB this is the cheap front half of
    every ANN index build (project-then-bucket); the banded variant is
    sim_knn_join's hyperplane LSH, which this operator generalizes to
    arbitrary output dims."""
    emb = load(spark, sf, "embeddings")
    u = emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
    q = u.select(
        "vec_id",
        "i",
        F.floor(F.col("v").cast("double") * 10000.0 + 0.5).cast("long").alias("qv"),
    ).select(
        "vec_id",
        "i",
        "qv",
        F.explode(F.sequence(F.lit(0), F.lit(_RP_OUT_DIMS - 1))).alias("j"),
    )
    sign_even = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.concat_ws(",", F.col("i"), F.col("j"))), 1, 1),
        )
        - 1
    ) % 2 == 0
    p = (
        q.select(
            "vec_id",
            "j",
            F.when(sign_even, F.col("qv")).otherwise(-F.col("qv")).alias("sq"),
        )
        .groupBy("vec_id", "j")
        .agg(F.sum("sq").alias("pv"))
    )
    return p.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "pv"))),
                lambda x: F.concat_ws(":", x["j"], x["pv"]),
            ),
            ",",
        ).alias("proj"),
        F.sum(F.abs(F.col("pv"))).alias("l1_norm"),
    )


# ---------------------------------------------------------------------------
# growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@query(
    "events_growth_accounting",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_id
      FROM events),
    l AS (
      SELECT user_id, day_id,
             lag(day_id) OVER (PARTITION BY user_id ORDER BY day_id)
               AS prev_day
      FROM a),
    c AS (
      SELECT day_id,
             CASE WHEN prev_day IS NULL THEN 'new'
                  WHEN day_id - prev_day = 1 THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM l),
    s AS (
      SELECT day_id,
             CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_resurrected,
             CAST(count(*) AS BIGINT) AS n_active
      FROM c GROUP BY day_id)
    SELECT s.day_id, s.n_new, s.n_retained, s.n_resurrected, s.n_active,
           CAST(coalesce(p.n_active, 0) - s.n_retained AS BIGINT)
             AS n_churned
    FROM s LEFT JOIN s p ON p.day_id = s.day_id - 1
    """,
)
def events_growth_accounting(spark: SparkSession, sf: str) -> DataFrame:
    """Growth accounting at daily grain (the new/retained/resurrected/
    churned ledger every growth team runs - the Social Capital
    formulation): each user-day is classified by the gap to that user's
    previous active day - first appearance = new, exactly-yesterday =
    retained, longer gap = resurrected - and churn falls out by
    CONSERVATION: churned(d) = active(d-1) - retained(d), which is
    non-negative by construction because today's retained users are a
    subset of yesterday's actives (the identity is pinned in tests).
    Plan: distinct user-day pairs (the one data-volume shuffle), a lag
    over each user's own activity days (window keyed by user - frame
    bounded by a user's lifetime, never the stream), a per-day hash agg,
    and the yesterday lookup spelled as an equi SELF-JOIN on day_id - 1
    over the ~150-row daily frame - NOT a global-order window, so no
    Exchange SinglePartition exists anywhere (TestNoGlobalWindow).  All
    integers, exact on both engines."""
    ev = load(spark, sf, "events")
    a = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("day_id"),
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("day_id")
    l = a.withColumn("prev_day", F.lag("day_id").over(wu))
    status = (
        F.when(F.col("prev_day").isNull(), "new")
        .when(F.col("day_id") - F.col("prev_day") == 1, "retained")
        .otherwise("resurrected")
    )
    s = (
        l.select("day_id", status.alias("status"))
        .groupBy("day_id")
        .agg(
            F.sum(F.when(F.col("status") == "new", 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("status") == "retained", 1).otherwise(0)).alias(
                "n_retained"
            ),
            F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0)).alias(
                "n_resurrected"
            ),
            F.count("*").alias("n_active"),
        )
    )
    # the ~150-row daily frame feeds BOTH join sides; localCheckpoint it so
    # the broadcast branch does not recompute the distinct+lag+agg subtree
    # (VERDICT r7 item 2 - warm creep was exactly that recompute)
    s = s.localCheckpoint(eager=False)
    p = s.select((F.col("day_id") + 1).alias("day_id"), F.col("n_active").alias("pa"))
    return (
        s.join(F.broadcast(p), "day_id", "left")
        .select(
            "day_id",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_active",
            (F.coalesce(F.col("pa"), F.lit(0)) - F.col("n_retained"))
            .cast("long")
            .alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection
# ---------------------------------------------------------------------------

_CUSUM_BASE_DAYS = 14  # baseline window length (days)
_CUSUM_H = 3  # drift threshold, in baseline-means of cumulative deviation


@query(
    "win_cusum_drift",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_id,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, day_id, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day_id)
               AS rn
      FROM d),
    base AS (
      SELECT event_type,
             CAST((sum(n) * 1000000) // count(*) AS BIGINT) AS mean_micro
      FROM r WHERE rn <= {_CUSUM_BASE_DAYS} GROUP BY event_type),
    c AS (
      SELECT r.event_type, r.day_id, r.n, b.mean_micro,
             CAST(sum(r.n * 1000000 - b.mean_micro)
                    OVER (PARTITION BY r.event_type ORDER BY r.day_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_micro
      FROM r JOIN base b ON r.event_type = b.event_type)
    SELECT event_type, day_id, n, cusum_micro,
           abs(cusum_micro) > {_CUSUM_H} * mean_micro AS is_drift
    FROM c
    """,
)
def win_cusum_drift(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM control chart over each event type's daily volume: cumulative
    sum of deviations from a baseline mean estimated on the first
    {_CUSUM_BASE_DAYS} days, flagging days where the accumulated
    deviation exceeds {_CUSUM_H} baseline-means - the change-point /
    drift detector that catches slow level shifts a per-day z-score
    (events_anomaly_zscore) integrates right past.  The baseline mean is
    an integer micro-mean (floor div), deviations are exact integers, so
    the running sum is order-independent per the chart's own ORDER BY -
    bit-identical on both engines, no float accumulation anywhere.
    Plan: one data-volume shuffle (daily agg); the row_number, the
    baseline agg, and the running sum all live on the (event_type,
    day) frame (~150 rows), windows keyed by event_type (bounded
    partitions, no global window); the baseline joins back broadcast
    (|types| rows).  At 100 TB the chart frame is calendar-bounded -
    the detector costs what the daily rollup costs."""
    ev = load(spark, sf, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("day_id"),
    ).agg(F.count("*").alias("n"))
    wr = Window.partitionBy("event_type").orderBy("day_id")
    r = d.withColumn("rn", F.row_number().over(wr))
    base = (
        r.filter(F.col("rn") <= _CUSUM_BASE_DAYS)
        .groupBy("event_type")
        .agg(
            F.expr("CAST((sum(n) * 1000000) div count(*) AS BIGINT)").alias(
                "mean_micro"
            )
        )
    )
    c = r.join(F.broadcast(base), "event_type").withColumn(
        "cusum_micro",
        F.sum(F.col("n") * 1_000_000 - F.col("mean_micro")).over(
            wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return c.select(
        "event_type",
        "day_id",
        "n",
        F.col("cusum_micro").cast("long").alias("cusum_micro"),
        (F.abs(F.col("cusum_micro")) > _CUSUM_H * F.col("mean_micro")).alias(
            "is_drift"
        ),
    )


# ---------------------------------------------------------------------------
# one Lloyd iteration of k-means, integer-exact
# ---------------------------------------------------------------------------

_KM_K = 8


@query(
    "sim_kmeans_lloyd_step",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))
               AS qa
      FROM embeddings),
    init AS (
      SELECT vec_id AS k, qa AS ca FROM q WHERE vec_id < {_KM_K}),
    d AS (
      SELECT q.vec_id, i.k,
             list_sum(list_transform(range(1, 65),
               j -> (q.qa[j] - i.ca[j]) * (q.qa[j] - i.ca[j]))) AS dist
      FROM q CROSS JOIN init i),
    a AS (
      SELECT vec_id, CAST(min(dist * {_KM_K} + k) AS BIGINT) AS key
      FROM d GROUP BY vec_id),
    asg AS (
      SELECT a.vec_id, a.key % {_KM_K} AS k, a.key // {_KM_K} AS dist, q.qa
      FROM a JOIN q ON a.vec_id = q.vec_id)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(dist) AS BIGINT) AS sse,
           CAST(sum(qa[1]) // count(*) AS BIGINT) AS c0,
           CAST(sum(qa[2]) // count(*) AS BIGINT) AS c1,
           CAST(sum(qa[3]) // count(*) AS BIGINT) AS c2,
           CAST(sum(qa[4]) // count(*) AS BIGINT) AS c3
    FROM asg GROUP BY k
    """,
)
def sim_kmeans_lloyd_step(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd iteration of k-means (K = {_KM_K}) as a fully declarative,
    INTEGER-exact distributed step - the primitive under every IVF/PQ
    coarse quantizer (sim_ivf_topk's centroid build runs this loop
    driver-side over a bounded K x dim sample; this operator is the
    cluster-scale spelling that handles any N).  Components are
    micro-quantized once; distances are exact integer sums over
    zip_with(q, c, (x,y) -> (x-y)^2) - no float accumulation, so
    assignment decisions and SSE are bit-identical on both engines at any
    partitioning.  Deterministic argmin: the (dist, k) pair is packed
    into ONE integer key (dist * K + k, k < K) whose min is the
    lexicographic minimum - ties break toward the lower centroid id
    identically everywhere, and the agg needs no struct ordering.
    Init = the K lowest vec_ids (the deterministic stand-in for k-means++
    seeding, which is irreducibly random).  Plan: the K-row centroid
    table BROADCASTS against the vector scan (the only sane join at
    100 TB - N x K distance rows never shuffle, they fold map-side into
    the per-vector min), one hash agg keyed vec_id, the update agg keyed
    k.  Updated centroid components (first 4 shown) are integer
    floor-means - the next iteration's exact input."""
    emb = load(spark, sf, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * 10000.0 + 0.5).cast("long"),
        ).alias("qa"),
    )
    init = q.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("k"), F.col("qa").alias("ca")
    )
    dist = F.aggregate(
        F.zip_with("qa", "ca", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = q.crossJoin(F.broadcast(init)).select(
        "vec_id", (dist * _KM_K + F.col("k")).alias("key")
    )
    a = d.groupBy("vec_id").agg(F.min("key").alias("key"))
    asg = a.join(q, "vec_id").select(
        (F.col("key") % _KM_K).alias("k"),
        F.expr(f"key div {_KM_K}").alias("dist"),
        "qa",
    )
    return asg.groupBy("k").agg(
        F.count("*").alias("n_assigned"),
        F.sum("dist").alias("sse"),
        *[
            F.expr(f"CAST(sum(qa[{i}]) div count(*) AS BIGINT)").alias(f"c{i}")
            for i in range(4)
        ],
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend
# ---------------------------------------------------------------------------


@query(
    "agg_theil_sen_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_id,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
             CAST(((b.n - a.n) * 1000000) // (b.day_id - a.day_id)
                  AS BIGINT) AS slope_micro
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND b.day_id > a.day_id)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(quantile_cont(slope_micro, 0.5) * 100.0 + 0.5) / 100.0
             AS ts_slope_micro,
           CAST(sum(CASE WHEN slope_micro > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_up,
           CAST(sum(CASE WHEN slope_micro < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_down
    FROM pairs GROUP BY event_type
    """,
)
def agg_theil_sen_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event type: the MEDIAN of all
    pairwise slopes between daily counts - up to ~29% contamination
    cannot move it, where agg_regression_trend's OLS slope chases every
    outlier day (the two are the robust/classical pair, like
    agg_mad_robust vs agg_stats).  Pairwise slopes are integer
    micro-slopes (floor div of exact count/day diffs), generated by a
    self-equi-join ON event_type over the AGGREGATED daily frame - the
    O(days^2) blowup is per type and calendar-bounded (~150 days ->
    ~11k pairs per type), never data-bounded, which is what makes
    Theil-Sen viable at 100 TB when it is hopeless on raw points.  The
    median interpolation (percentile = quantile_cont) runs per type over
    those bounded pair frames; sign counts (Mann-Kendall's S statistic
    components) ride along for a distribution-free direction signal.
    One data-volume shuffle (daily agg) + the tiny pair join."""
    ev = load(spark, sf, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("day_id"),
    ).agg(F.count("*").alias("n"))
    a = d.select("event_type", F.col("day_id").alias("d1"), F.col("n").alias("n1"))
    b = d.select("event_type", F.col("day_id").alias("d2"), F.col("n").alias("n2"))
    pairs = a.join(b, "event_type").filter(F.col("d2") > F.col("d1")).select(
        "event_type",
        F.expr("CAST(((n2 - n1) * 1000000) div (d2 - d1) AS BIGINT)").alias(
            "slope_micro"
        ),
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        pround(F.percentile("slope_micro", F.lit(0.5)), 2).alias("ts_slope_micro"),
        F.sum(F.when(F.col("slope_micro") > 0, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("slope_micro") < 0, 1).otherwise(0)).alias("n_down"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter join prefilter
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(r: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({r} AS VARCHAR) || ':' ||"
        f" CAST({key} AS VARCHAR)), 1, 6)) AS BIGINT) % {_BLOOM_M}"
    )


@query(
    "join_bloom_prefilter",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'),
    bits AS (
      SELECT DISTINCT r.r, {_bloom_pos_sql("r.r", "k")} AS pos
      FROM keys, (SELECT unnest(range(0, {_BLOOM_K})) AS r) r),
    probe AS (
      SELECT l_orderkey AS k, l_returnflag FROM lineitem),
    passed AS (
      SELECT p.k, p.l_returnflag
      FROM probe p
      JOIN bits b0 ON b0.r = 0 AND b0.pos = {_bloom_pos_sql("0", "p.k")}
      JOIN bits b1 ON b1.r = 1 AND b1.pos = {_bloom_pos_sql("1", "p.k")}
      JOIN bits b2 ON b2.r = 2 AND b2.pos = {_bloom_pos_sql("2", "p.k")}),
    marked AS (
      SELECT pa.l_returnflag,
             CASE WHEN keys.k IS NOT NULL THEN 1 ELSE 0 END AS is_true
      FROM passed pa LEFT JOIN keys ON pa.k = keys.k)
    SELECT p.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_probe,
           CAST((SELECT count(*) FROM marked m
                 WHERE m.l_returnflag = p.l_returnflag) AS BIGINT)
             AS n_bloom_pass,
           CAST((SELECT coalesce(sum(is_true), 0) FROM marked m
                 WHERE m.l_returnflag = p.l_returnflag) AS BIGINT)
             AS n_true_match
    FROM probe p
    GROUP BY p.l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter join PREFILTER, spelled out declaratively: the build
    side's key set ('urgent' orders) is hashed {_BLOOM_K}x into a
    {_BLOOM_M}-bit filter materialized as a distinct (hash_row, bit)
    table - bounded by {_BLOOM_K} x {_BLOOM_M} rows no matter how many
    build keys exist, so it ALWAYS broadcasts - and the probe side
    (lineitem) passes only if all {_BLOOM_K} of its bits are set (three
    broadcast equi-joins, no shuffle of the probe stream).  This is the
    semi-join reduction every warehouse applies before an expensive
    shuffle join (Spark's own runtime row-level filtering does exactly
    this under AQE; the explicit spelling is engine-portable, works
    cross-cluster where the build side lives elsewhere, and its false-
    positive rate is auditable).  The report compares, per return flag,
    probe volume vs bloom-passed vs TRUE matches - n_bloom_pass >=
    n_true_match always (no false negatives, pinned in tests), and the
    gap is the measured FP rate ((1 - e^-kn/m)^k ~= 2% here).  md5
    hashing keeps build and probe bit positions identical on both
    engines.  The true-match audit joins only the BLOOM SURVIVORS
    against the key set - at 100 TB that is the point: the expensive
    join runs on ~matched volume, not probe volume."""
    ords = load(spark, sf, "orders")
    keys = (
        ords.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )

    def pos(r, key_col):
        rc = F.lit(r) if isinstance(r, int) else r
        return (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", rc, key_col)), 1, 6),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    bits = (
        keys.select(
            F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("r"), "k"
        )
        .select("r", pos(F.col("r"), F.col("k")).alias("pos"))
        .distinct()
    )
    probe = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_returnflag"
    )
    passed = probe
    for r in range(_BLOOM_K):
        b = F.broadcast(
            bits.filter(F.col("r") == r).select(F.col("pos").alias(f"pos{r}"))
        )
        passed = passed.join(b, pos(r, F.col("k")) == F.col(f"pos{r}")).drop(
            f"pos{r}"
        )
    marked = passed.join(
        F.broadcast(keys.select(F.col("k"), F.lit(1).alias("is_true"))),
        "k",
        "left",
    ).select("l_returnflag", F.coalesce("is_true", F.lit(0)).alias("is_true"))
    per_flag_pass = marked.groupBy("l_returnflag").agg(
        F.count("*").alias("n_bloom_pass"),
        F.sum("is_true").alias("n_true_match"),
    )
    per_flag_probe = probe.groupBy("l_returnflag").agg(
        F.count("*").alias("n_probe")
    )
    # LEFT join: a flag whose probes all fail the bloom filter must still
    # report (n_bloom_pass=0, n_true_match=0) like the oracle's scalar
    # subqueries - an inner join silently dropped it (degenerate-TPCH
    # sweep, round 7)
    return per_flag_probe.join(
        F.broadcast(per_flag_pass), "l_returnflag", "left"
    ).select(
        "l_returnflag",
        "n_probe",
        F.coalesce("n_bloom_pass", F.lit(0)).cast("long").alias("n_bloom_pass"),
        F.coalesce("n_true_match", F.lit(0)).cast("long").alias("n_true_match"),
    )


# ---------------------------------------------------------------------------
# length bucketing (inference batching / padding-waste report)
# ---------------------------------------------------------------------------

_LB_BUCKET = 16  # tokens per length bucket


@query(
    "pipeline_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents),
    g AS (SELECT CAST(max(nt) AS BIGINT) AS global_max FROM t),
    b AS (
      SELECT nt // {_LB_BUCKET} AS bucket, nt FROM t)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(bucket * {_LB_BUCKET} AS BIGINT) AS len_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS real_tokens,
           CAST(max(nt) * count(*) AS BIGINT) AS padded_tokens,
           CAST(((max(nt) * count(*) - sum(nt)) * 1000000)
                // (max(nt) * count(*)) AS BIGINT) AS waste_micro,
           CAST(((g.global_max * count(*) - sum(nt)) * 1000000)
                // (g.global_max * count(*)) AS BIGINT)
             AS waste_unbucketed_micro
    FROM b CROSS JOIN g
    GROUP BY bucket, g.global_max
    """,
)
def pipeline_length_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Length bucketing for batched inference/training: documents grouped
    into {_LB_BUCKET}-token length buckets, with the padding-waste
    ledger - real vs padded token mass when each batch pads to its
    bucket max, against the waste of padding everything to the GLOBAL
    max (the no-bucketing baseline every serving stack starts from).
    This report is how you pick the bucket width that trades kernel
    occupancy against batch fragmentation; the same bucket key then
    becomes the repartition/sort key the actual batcher uses (the
    pipeline_seq_pack complement: packing concatenates, bucketing
    pads).  One map-side projection + one hash agg; the global max is a
    1-row broadcast.  All integers - the waste ratios are exact micro
    floor-divisions on both engines."""
    d = load(spark, sf, "documents")
    t = d.select(F.size(F.split("text", " ")).cast("long").alias("nt"))
    g = t.agg(F.max("nt").alias("global_max"))
    b = t.select(F.expr(f"nt div {_LB_BUCKET}").alias("bucket"), "nt").crossJoin(
        F.broadcast(g)
    )
    return b.groupBy("bucket", "global_max").agg(
        F.expr(f"CAST(bucket * {_LB_BUCKET} AS BIGINT)").alias("len_lo"),
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("real_tokens"),
        (F.max("nt") * F.count("*")).alias("padded_tokens"),
        F.expr(
            "CAST(((max(nt) * count(*) - sum(nt)) * 1000000)"
            " div (max(nt) * count(*)) AS BIGINT)"
        ).alias("waste_micro"),
        F.expr(
            "CAST(((global_max * count(*) - sum(nt)) * 1000000)"
            " div (global_max * count(*)) AS BIGINT)"
        ).alias("waste_unbucketed_micro"),
    ).drop("global_max")


# ---------------------------------------------------------------------------
# Bollinger bands (rolling mean +/- 2 sigma)
# ---------------------------------------------------------------------------

_BB_WIN = 14  # rolling window, days


@query(
    "win_bollinger_bands",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_id,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, day_id, n,
             CAST(count(*) OVER w AS BIGINT) AS k,
             CAST(sum(n) OVER w AS BIGINT) AS s1,
             CAST(sum(n * n) OVER w AS BIGINT) AS s2
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day_id
                   ROWS BETWEEN {_BB_WIN - 1} PRECEDING AND CURRENT ROW))
    SELECT event_type, day_id, n, k,
           floor((s1 * 1.0 / k) * 10000.0 + 0.5) / 10000.0 AS mid,
           floor((s1 * 1.0 / k
                  - 2.0 * sqrt((s2 - s1 * 1.0 * s1 / k) / k)) * 10000.0
                 + 0.5) / 10000.0 AS lower_band,
           floor((s1 * 1.0 / k
                  + 2.0 * sqrt((s2 - s1 * 1.0 * s1 / k) / k)) * 10000.0
                 + 0.5) / 10000.0 AS upper_band,
           n * k > s1 + CAST(floor(2.0 * sqrt((s2 - s1 * 1.0 * s1 / k) / k)
                                   * k) AS BIGINT) AS breakout_up
    FROM s
    """,
)
def win_bollinger_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Bollinger bands over each event type's daily volume: rolling
    {_BB_WIN}-day mean +/- 2 population sigma, plus an integer-exact
    breakout flag.  The rolling moments come from ALGEBRAIC sufficient
    statistics (k, sum, sum of squares) in a bounded ROWS frame - the
    same discipline as events_anomaly_zscore but windowed, which is what
    an alerting system actually runs (a global mean never adapts to
    level shifts; the CUSUM chart and these bands are the
    drift/volatility pair).  The band edges are floats (one sqrt), but
    the BREAKOUT DECISION is spelled in integers - n*k > s1 +
    floor(2*sigma*k) - so the flag flips identically on both engines
    even when the band edge lands on a rounding boundary.  One
    data-volume shuffle (daily agg); the window runs over the ~150-row
    daily frame keyed by event_type."""
    ev = load(spark, sf, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("day_id"),
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(-(_BB_WIN - 1), Window.currentRow)
    )
    s = d.select(
        "event_type",
        "day_id",
        "n",
        F.count("*").over(w).alias("k"),
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("k")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("k")) / F.col("k")
    )
    return s.select(
        "event_type",
        "day_id",
        "n",
        "k",
        pround(mean, 4).alias("mid"),
        pround(mean - 2.0 * sigma, 4).alias("lower_band"),
        pround(mean + 2.0 * sigma, 4).alias("upper_band"),
        (
            F.col("n") * F.col("k")
            > F.col("s1") + F.floor(2.0 * sigma * F.col("k")).cast("long")
        ).alias("breakout_up"),
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test (A/B comparison matrix)
# ---------------------------------------------------------------------------


@query(
    "events_abtest_welch",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS s2
      FROM events GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n1, a.s1 AS sa1, a.s2 AS sa2,
             b.n AS n2, b.s1 AS sb1, b.s2 AS sb2
      FROM s a JOIN s b ON a.event_type < b.event_type),
    f AS (
      SELECT type_a, type_b, n1, n2,
             sa1 * 1.0 / n1 AS m1,
             sb1 * 1.0 / n2 AS m2,
             ((sa2 - sa1 * 1.0 * sa1 / n1) / (n1 - 1)) / n1 AS se1,
             ((sb2 - sb1 * 1.0 * sb1 / n2) / (n2 - 1)) / n2 AS se2
      FROM p)
    SELECT type_a, type_b, n1, n2,
           floor((m1 - m2) * 100.0 + 0.5) / 100.0 AS mean_diff_cents,
           floor(((m1 - m2) / sqrt(se1 + se2)) * 10000.0 + 0.5) / 10000.0
             AS t_stat,
           floor((((se1 + se2) * (se1 + se2))
                  / (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0)))
                 * 100.0 + 0.5) / 100.0 AS welch_df,
           abs(floor(((m1 - m2) / sqrt(se1 + se2)) * 10000.0 + 0.5)
               / 10000.0) > 1.96 AS significant_95
    FROM f
    """,
)
def events_abtest_welch(spark: SparkSession, sf: str) -> DataFrame:
    """Welch two-sample t-test matrix over every event-type pair - the
    A/B-testing primitive (unequal variances, unequal sizes - the test
    you actually run, not Student's): mean difference in cents, the
    t statistic, the Welch-Satterthwaite degrees of freedom, and the
    |t| > 1.96 significance flag.  Inputs are ALGEBRAIC sufficient
    statistics (n, sum, sum-of-squares of integer cents - the
    agg_regression_trend discipline), so the one shuffle is the per-type
    agg with map-side combine; the pair matrix is a self-join of a
    |types|-row broadcast frame.  The float tail (two divisions, one
    sqrt) is spelled with identical literal order on both engines over
    exact integer inputs, then pround; the significance flag compares
    the ROUNDED t so the boundary decision is the same computation
    everywhere.  At 100 TB per-variant sufficient stats stream out of
    one pass - the test itself costs |variants|^2 arithmetic, nothing
    data-sized."""
    ev = load(spark, sf, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    a = s.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n1"),
        F.col("s1").alias("sa1"),
        F.col("s2").alias("sa2"),
    )
    b = s.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n2"),
        F.col("s1").alias("sb1"),
        F.col("s2").alias("sb2"),
    )
    p = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    m1 = F.col("sa1") * 1.0 / F.col("n1")
    m2 = F.col("sb1") * 1.0 / F.col("n2")
    # nullif-guards on every possibly-zero denominator (n=1 groups, two
    # zero-variance arms): DuckDB's x/0 yields NULL where Spark's ANSI
    # division throws - both engines must report NULL statistics for
    # degenerate arms (degenerate-corpus sweep, round 7)
    nm1a = F.nullif((F.col("n1") - 1).cast("double"), F.lit(0.0))
    nm1b = F.nullif((F.col("n2") - 1).cast("double"), F.lit(0.0))
    se1 = (
        (F.col("sa2") - F.col("sa1") * 1.0 * F.col("sa1") / F.col("n1")) / nm1a
    ) / F.col("n1")
    se2 = (
        (F.col("sb2") - F.col("sb1") * 1.0 * F.col("sb1") / F.col("n2")) / nm1b
    ) / F.col("n2")
    f = p.select(
        "type_a", "type_b", "n1", "n2",
        m1.alias("m1"), m2.alias("m2"), se1.alias("se1"), se2.alias("se2"),
    )
    t_stat = pround(
        (F.col("m1") - F.col("m2"))
        / F.nullif(F.sqrt(F.col("se1") + F.col("se2")), F.lit(0.0)),
        4,
    )
    return f.select(
        "type_a",
        "type_b",
        "n1",
        "n2",
        pround(F.col("m1") - F.col("m2"), 2).alias("mean_diff_cents"),
        t_stat.alias("t_stat"),
        pround(
            ((F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2")))
            / F.nullif(
                F.col("se1") * F.col("se1")
                / F.nullif(F.col("n1") - 1.0, F.lit(0.0))
                + F.col("se2") * F.col("se2")
                / F.nullif(F.col("n2") - 1.0, F.lit(0.0)),
                F.lit(0.0),
            ),
            2,
        ).alias("welch_df"),
        (F.abs(t_stat) > 1.96).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# market-basket association (support / confidence / lift)
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 3  # orders; prunes the pair tail before any ratio math


@query(
    "agg_market_basket_lift",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    nt AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM b),
    item AS (
      SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY p),
    pair AS (
      SELECT a.p AS p1, c.p AS p2, CAST(count(*) AS BIGINT) AS support
      FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
      GROUP BY 1, 2
      HAVING count(*) >= {_MB_MIN_SUPPORT})
    SELECT pr.p1, pr.p2, pr.support,
           CAST((pr.support * 1000000) // i1.cnt AS BIGINT)
             AS confidence_micro,
           CAST((pr.support * nt.n_orders * 1000000) // (i1.cnt * i2.cnt)
                AS BIGINT) AS lift_micro
    FROM pair pr
    JOIN item i1 ON i1.p = pr.p1
    JOIN item i2 ON i2.p = pr.p2
    CROSS JOIN nt
    ORDER BY lift_micro DESC, pr.p1, pr.p2
    LIMIT 20
    """,
)
def agg_market_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association mining (the Apriori/FP-growth output
    surface): top-20 part pairs by LIFT across order baskets, with
    support and confidence - the co-purchase rule miner behind every
    'frequently bought together'.  The pair candidate stage is the
    basket self-join on order key - pairs materialize only inside a
    basket (bounded by basket-size^2 per order, never catalog^2), and
    the {_MB_MIN_SUPPORT}-order minimum support prunes the accidental-
    pair tail BEFORE any ratio math, which is the Apriori insight that
    makes the search tractable at any scale.  Item counts and the
    basket total are broadcast-sized dims joined back; all three
    metrics are exact integer micro-ratios (lift's cross-term
    support * n_orders stays well inside int64 at any realistic
    cardinality because support <= n_orders).  Top-20 ties break on
    (p1, p2).  Shuffles: basket distinct, pair agg, item agg - all
    hash-keyed; a hot basket (one order with thousands of items) is the
    skew case, handled by capping basket size upstream the same way
    graph_common_neighbors caps part degree."""
    li = load(spark, sf, "lineitem")
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    nt = b.agg(F.count_distinct("o").alias("n_orders"))
    item = b.groupBy("p").agg(F.count("*").alias("cnt"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(c, (F.col("a.o") == F.col("c.o")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("c.p").alias("p2"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _MB_MIN_SUPPORT)
    )
    i1 = F.broadcast(item.select(F.col("p").alias("p1"), F.col("cnt").alias("cnt1")))
    i2 = F.broadcast(item.select(F.col("p").alias("p2"), F.col("cnt").alias("cnt2")))
    return (
        pair.join(i1, "p1")
        .join(i2, "p2")
        .crossJoin(F.broadcast(nt))
        .select(
            "p1",
            "p2",
            "support",
            F.expr("CAST((support * 1000000) div cnt1 AS BIGINT)").alias(
                "confidence_micro"
            ),
            F.expr(
                "CAST((support * n_orders * 1000000) div (cnt1 * cnt2) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), F.asc("p1"), F.asc("p2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# rolling cross-series correlation
# ---------------------------------------------------------------------------

_RC_WIN = 14  # rolling window, days
_RC_A, _RC_B = "click", "purchase"


@query(
    "win_rolling_corr",
    oracle=f"""
    WITH d AS (
      SELECT CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_id,
             CAST(sum(CASE WHEN event_type = '{_RC_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = '{_RC_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1),
    s AS (
      SELECT day_id, x, y,
             CAST(count(*) OVER w AS BIGINT) AS k,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER w AS BIGINT) AS syy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy
      FROM d
      WINDOW w AS (PARTITION BY day_id // 1000000 ORDER BY day_id
                   ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW))
    SELECT day_id, x, y, k,
           floor(((k * sxy - sx * sy)
                  / sqrt(nullif((k * sxx - sx * sx) * 1.0
                                * (k * syy - sy * sy), 0.0)))
                 * 10000.0 + 0.5) / 10000.0 AS corr
    FROM s
    """,
)
def win_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling {_RC_WIN}-day Pearson correlation between two event
    series ({_RC_A} vs {_RC_B} daily volumes) - the co-movement
    diagnostic behind 'does engagement still convert', windowed so
    regime changes show up instead of averaging out.  Both series come
    from ONE conditional aggregation pass (no join of two filtered
    subqueries - the daily frame pivots the two types into columns in
    the same agg), and all five sufficient statistics (sums, squares,
    cross-product) are exact integer window sums over the bounded ROWS
    frame; the only float math is the final normalized ratio, spelled
    identically on both engines and nullif-guarded for zero-variance
    windows.  The windowed frame is the ~30-row daily series; its
    partition key is constant (day_id // 1e6 == 0 for any realistic
    epoch) - spelled that way in BOTH engines so the plans match while
    keeping the Window partitioned for Spark (TestNoGlobalWindow; at
    100 TB you'd window per (metric-pair, year) anyway).  One
    data-volume shuffle (the daily agg)."""
    ev = load(spark, sf, "events")
    d = ev.groupBy(
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("day_id")
    ).agg(
        F.sum(F.when(F.col("event_type") == _RC_A, 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("event_type") == _RC_B, 1).otherwise(0)).alias("y"),
    )
    w = (
        Window.partitionBy(F.expr("day_id div 1000000"))
        .orderBy("day_id")
        .rowsBetween(-(_RC_WIN - 1), Window.currentRow)
    )
    s = d.select(
        "day_id",
        "x",
        "y",
        F.count("*").over(w).alias("k"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        F.nullif(
            (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1.0
            * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")),
            F.lit(0.0),
        )
    )
    return s.select(
        "day_id", "x", "y", "k", pround(num / den, 4).alias("corr")
    )


# ---------------------------------------------------------------------------
# cohort LTV curve
# ---------------------------------------------------------------------------


@query(
    "events_cohort_ltv",
    oracle="""
    WITH su AS (
      SELECT user_id,
             CAST(floor(epoch_us(min(ts)) / 86400000000.0) AS BIGINT)
               AS cohort_day
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    rev AS (
      SELECT su.cohort_day,
             CAST(floor(epoch_us(e.ts) / 86400000000.0) AS BIGINT)
               - su.cohort_day AS age,
             CAST(sum(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM su JOIN events e
        ON e.user_id = su.user_id AND e.event_type = 'purchase'
      WHERE floor(epoch_us(e.ts) / 86400000000.0) >= su.cohort_day
      GROUP BY 1, 2),
    size_ AS (
      SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
      FROM su GROUP BY cohort_day),
    c AS (
      SELECT r.cohort_day, r.age, r.cents, s.n_users,
             CAST(sum(r.cents) OVER (PARTITION BY r.cohort_day ORDER BY r.age
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM rev r JOIN size_ s ON r.cohort_day = s.cohort_day)
    SELECT cohort_day, age, n_users, cents, cum_cents,
           CAST(cum_cents // n_users AS BIGINT) AS ltv_cents_per_user
    FROM c
    """,
)
def events_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curve - the revenue twin of agg_retention_cohort's
    count triangle: per signup-day cohort, cumulative purchase revenue
    by account age, normalized per cohort member (the
    'LTV at day N' curve that decides payback on acquisition spend).
    Revenue is exact integer cents floored per event; the cumulative
    sum runs over each cohort's OWN age axis (window keyed by cohort -
    frames bounded by the calendar, the daily-frame discipline); cohort
    sizes join back broadcast.  The per-user LTV is integer floor
    division - exact on both engines.  One data-volume shuffle for the
    per-user signup min, one for the (cohort, age) revenue agg - the
    user-keyed join between them co-partitions under AQE."""
    ev = load(spark, sf, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.floor(F.unix_micros(F.min("ts")) / 86_400_000_000.0)
            .cast("long")
            .alias("cohort_day")
        )
    )
    pu = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("p_day"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    rev = (
        su.join(
            pu,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_day") >= F.col("cohort_day")),
        )
        .groupBy("cohort_day", (F.col("p_day") - F.col("cohort_day")).alias("age"))
        .agg(F.sum("cents").alias("cents"))
    )
    size = su.groupBy("cohort_day").agg(F.count("*").alias("n_users"))
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = rev.join(F.broadcast(size), "cohort_day").withColumn(
        "cum_cents", F.sum("cents").over(w).cast("long")
    )
    return c.select(
        "cohort_day",
        "age",
        "n_users",
        "cents",
        "cum_cents",
        F.expr("CAST(cum_cents div n_users AS BIGINT)").alias(
            "ltv_cents_per_user"
        ),
    )


# ---------------------------------------------------------------------------
# data-contract audit (Deequ-style constraint suite)
# ---------------------------------------------------------------------------


@query(
    "pipeline_contract_audit",
    oracle="""
    WITH cust AS (SELECT DISTINCT c_custkey FROM customer),
    ev AS (
      SELECT e.*, (c.c_custkey IS NOT NULL) AS fk_ok
      FROM events e LEFT JOIN cust c ON e.user_id = c.c_custkey),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_nonneg,
             CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_notnull,
             CAST(sum(CASE WHEN event_type NOT IN
                    ('click','view','signup','purchase','error')
                    THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
             CAST(sum(CASE WHEN NOT fk_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS v_fk,
             CAST(sum(CASE WHEN epoch_us(ts) < 1704067200000000
                        OR epoch_us(ts) >= 1767225600000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_tsrange
      FROM ev),
    u AS (
      SELECT CAST(count(*) AS BIGINT) - CAST(count(DISTINCT event_id)
                                             AS BIGINT) AS v_unique
      FROM events)
    SELECT 'value_nonnegative' AS rule, n_rows, v_nonneg AS n_violations,
           v_nonneg = 0 AS passed FROM a
    UNION ALL
    SELECT 'user_id_not_null', n_rows, v_notnull, v_notnull = 0 FROM a
    UNION ALL
    SELECT 'event_type_in_domain', n_rows, v_domain, v_domain = 0 FROM a
    UNION ALL
    SELECT 'user_fk_in_customer', n_rows, v_fk, v_fk = 0 FROM a
    UNION ALL
    SELECT 'ts_in_2024_2025', n_rows, v_tsrange, v_tsrange = 0 FROM a
    UNION ALL
    SELECT 'event_id_unique', (SELECT n_rows FROM a), v_unique,
           v_unique = 0 FROM u
    """,
)
def pipeline_contract_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Data-contract audit suite (the Deequ/Great-Expectations shape):
    six production constraints over the event stream - non-negativity,
    NOT NULL, categorical domain, referential integrity against the
    customer dim, timestamp range, and key uniqueness - evaluated in
    ONE pass plus one broadcast FK probe, reported as a machine-readable
    (rule, violations, passed) ledger.  This is the gate a 100 TB ingest
    runs BEFORE publishing a partition: every constraint is a
    conditional count inside the same aggregate (no per-rule scans),
    the FK check rides a size-GATED broadcast left join against the
    distinct dim keys (the key set is fact-proportional, so the hint is
    withheld beyond catalog.FACT_BROADCAST_BYTES and the probe becomes
    a shuffled left join on user_id; at true 100 TB scale the honest
    spelling is the join_bloom_prefilter bit-table, which is bounded
    and always broadcastable - this audit keeps the exact count), and
    uniqueness is count - count(distinct) on the key.  The single wide
    aggregate fans into 6 report rows broadcast-sized.  Violation
    counts are exact integers; 'passed' is derived from them
    identically on both engines."""
    ev = load(spark, sf, "events")
    cust = load(spark, sf, "customer").select("c_custkey").distinct()
    e = ev.join(
        gated_broadcast(cust.withColumn("fk_ok", F.lit(True)), sf, "customer"),
        ev.user_id == cust.c_custkey,
        "left",
    )
    a = e.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("v_nonneg"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("v_notnull"),
        F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "signup", "purchase", "error"
                ),
                1,
            ).otherwise(0)
        ).alias("v_domain"),
        F.sum(F.when(F.col("fk_ok").isNull(), 1).otherwise(0)).alias("v_fk"),
        F.sum(
            F.when(
                (F.unix_micros("ts") < 1_704_067_200_000_000)
                | (F.unix_micros("ts") >= 1_767_225_600_000_000),
                1,
            ).otherwise(0)
        ).alias("v_tsrange"),
        (F.count("*") - F.count_distinct("event_id")).alias("v_unique"),
    )
    # fan the ONE aggregate row into the 6-row ledger with stack() - a
    # union of per-rule selects would duplicate the whole agg subtree
    # (and its scans) once per rule, which the plan test rejects
    return a.select(
        "n_rows",
        F.expr(
            "stack(6,"
            " 'value_nonnegative', v_nonneg,"
            " 'user_id_not_null', v_notnull,"
            " 'event_type_in_domain', v_domain,"
            " 'user_fk_in_customer', v_fk,"
            " 'ts_in_2024_2025', v_tsrange,"
            " 'event_id_unique', v_unique) AS (rule, n_violations)"
        ),
    ).select(
        "rule",
        "n_rows",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# sweep-line open-interval counting
# ---------------------------------------------------------------------------


@query(
    "time_sweepline_open_intervals",
    oracle="""
    WITH iv AS (
      SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000.0) AS BIGINT)
               AS d0,
             CAST(floor(epoch_us(o_orderdate) / 86400000000.0) AS BIGINT)
               + (o_orderkey % 30 + 1) AS d1
      FROM orders),
    delta AS (
      SELECT d0 AS day_id, CAST(1 AS BIGINT) AS dv FROM iv
      UNION ALL
      SELECT d1, CAST(-1 AS BIGINT) FROM iv),
    g AS (
      SELECT day_id, CAST(sum(dv) AS BIGINT) AS net
      FROM delta GROUP BY day_id),
    s AS (
      SELECT day_id, net,
             CAST(sum(net) OVER (PARTITION BY day_id // 100000
                     ORDER BY day_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS n_open
      FROM g)
    SELECT day_id, net, n_open FROM s
    """,
)
def time_sweepline_open_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Concurrent-interval counting by SWEEP LINE: how many orders are
    open on each day, where an order spans [orderdate, orderdate +
    (key % 30 + 1) days).  Each interval contributes exactly TWO delta
    rows (+1 at open, -1 at close) and the answer is the running sum of
    per-day net deltas - O(intervals) work total, versus the per-day
    fan-out spelling (events_active_users_rolling's explode of every
    covered day) which is O(intervals x duration).  That contrast is
    the point: fan-out wins when you need per-day DISTINCT semantics,
    sweep-line wins for pure concurrency counts, and at 100 TB with
    month-long intervals the difference is 30x shuffle volume.  The
    delta agg is the one data-volume shuffle; the running sum runs over
    the ~bounded day grid (window partition key day_id // 100000 is
    constant for any realistic epoch - the win_rolling_corr spelling,
    keeping the Window partitioned per TestNoGlobalWindow; shard by
    year when the grid itself grows).  All integers, exact."""
    o = load(spark, sf, "orders")
    d0 = F.floor(F.unix_micros("o_orderdate") / 86_400_000_000.0).cast("long")
    iv = o.select(
        d0.alias("d0"), (d0 + (F.col("o_orderkey") % 30 + 1)).alias("d1")
    )
    delta = iv.select(F.col("d0").alias("day_id"), F.lit(1).cast("long").alias("dv")).unionAll(
        iv.select(F.col("d1").alias("day_id"), F.lit(-1).cast("long").alias("dv"))
    )
    g = delta.groupBy("day_id").agg(F.sum("dv").alias("net"))
    w = (
        Window.partitionBy(F.expr("day_id div 100000"))
        .orderBy("day_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "day_id", "net", F.sum("net").over(w).cast("long").alias("n_open")
    )


# ---------------------------------------------------------------------------
# survival analysis: Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------


@query(
    "events_survival_hazard",
    oracle="""
    WITH su AS (
      SELECT user_id,
             CAST(floor(epoch_us(min(ts)) / 86400000000.0) AS BIGINT) AS s0
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    horizon AS (
      SELECT CAST(floor(epoch_us(max(ts)) / 86400000000.0) AS BIGINT) AS hmax
      FROM events),
    fp AS (
      SELECT su.user_id,
             CAST(min(floor(epoch_us(e.ts) / 86400000000.0)) AS BIGINT)
               - su.s0 AS t_event
      FROM su JOIN events e
        ON e.user_id = su.user_id AND e.event_type = 'purchase'
           AND floor(epoch_us(e.ts) / 86400000000.0) >= su.s0
      GROUP BY su.user_id, su.s0),
    obs AS (
      SELECT su.user_id,
             coalesce(fp.t_event, h.hmax - su.s0) AS t_exit,
             (fp.t_event IS NOT NULL) AS is_event
      FROM su LEFT JOIN fp ON su.user_id = fp.user_id
      CROSS JOIN horizon h),
    d AS (
      SELECT t_exit AS t,
             CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
               AS d_events,
             CAST(count(*) AS BIGINT) AS n_exits
      FROM obs GROUP BY t_exit),
    nrisk AS (
      SELECT t, d_events, n_exits,
             CAST((SELECT count(*) FROM obs) AS BIGINT)
               - CAST(coalesce(sum(n_exits) OVER (PARTITION BY t // 100000
                        ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
      FROM d),
    hz AS (
      SELECT t, n_at_risk, d_events,
             CAST((d_events * 1000000) // n_at_risk AS BIGINT)
               AS hazard_micro
      FROM nrisk)
    SELECT t, n_at_risk, d_events, hazard_micro,
           CAST(sum(hazard_micro) OVER (PARTITION BY t // 100000 ORDER BY t
                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_hazard_micro
    FROM hz
    """,
)
def events_survival_hazard(spark: SparkSession, sf: str) -> DataFrame:
    """Survival analysis of time-to-first-purchase with right censoring:
    the Nelson-Aalen cumulative hazard H(t) = sum_{t_i <= t} d_i / n_i,
    where users who never purchase are CENSORED at the observation
    horizon (they leave the risk set without an event - ignoring them
    would bias conversion optimistically, the classic survival mistake).
    Nelson-Aalen instead of Kaplan-Meier is deliberate: the hazard is a
    SUM of per-day ratios - each floored to exact integer micro-units
    before the cumulative sum - where KM's product of survival factors
    would need ln/exp whose last-ulp behavior differs across engines.
    (KM recovers as exp(-H) downstream.)  Risk-set sizes come from the
    exit-day frame: n_at_risk(t) = total - exits before t, a running sum
    over the bounded day-offset grid, not a per-user window.  Plan: two
    user-keyed aggs (signup min, first purchase) joined on the same key,
    a 1-row horizon broadcast, then day-grid windows (constant partition
    key, the win_rolling_corr spelling).  All integers end to end."""
    ev = load(spark, sf, "events")
    day = lambda c: F.floor(F.unix_micros(c) / 86_400_000_000.0).cast("long")  # noqa: E731
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(day(F.min("ts")).alias("s0"))
    )
    horizon = ev.agg(day(F.max("ts")).alias("hmax"))
    pu = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), day(F.col("ts")).alias("p_day")
    )
    fp = (
        su.join(
            pu,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_day") >= F.col("s0")),
        )
        .groupBy("user_id", "s0")
        .agg((F.min("p_day") - F.col("s0")).alias("t_event"))
        .select("user_id", "t_event")
    )
    obs = (
        su.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.coalesce(F.col("t_event"), F.col("hmax") - F.col("s0")).alias(
                "t_exit"
            ),
            F.col("t_event").isNotNull().alias("is_event"),
        )
    )
    total = obs.agg(F.count("*").alias("n_total"))
    d = obs.groupBy(F.col("t_exit").alias("t")).agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).alias("d_events"),
        F.count("*").alias("n_exits"),
    )
    wprev = (
        Window.partitionBy(F.expr("t div 100000"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy(F.expr("t div 100000"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nrisk = d.crossJoin(F.broadcast(total)).select(
        "t",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_exits").over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_at_risk"),
    )
    hz = nrisk.select(
        "t",
        "n_at_risk",
        "d_events",
        F.expr("CAST((d_events * 1000000) div n_at_risk AS BIGINT)").alias(
            "hazard_micro"
        ),
    )
    return hz.select(
        "t",
        "n_at_risk",
        "d_events",
        "hazard_micro",
        F.sum("hazard_micro").over(wrun).cast("long").alias("cum_hazard_micro"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------


@query(
    "agg_benford_audit",
    oracle="""
    WITH v AS (
      SELECT CAST(substr(CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM events WHERE floor(value * 100.0 + 0.5) >= 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM v),
    c AS (
      SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY d)
    SELECT c.d AS digit, c.cnt,
           CAST((c.cnt * 1000000) // n.total AS BIGINT) AS observed_micro,
           CAST(floor(log10(1.0 + 1.0 / c.d) * 1000000.0 + 0.5) AS BIGINT)
             AS benford_micro,
           abs(CAST((c.cnt * 1000000) // n.total AS BIGINT)
               - CAST(floor(log10(1.0 + 1.0 / c.d) * 1000000.0 + 0.5)
                      AS BIGINT)) AS abs_dev_micro
    FROM c CROSS JOIN n
    """,
)
def agg_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-digit audit over transaction amounts - the
    fraud/quality screen auditors run on any money column: observed
    leading-digit frequencies vs the Benford expectation log10(1+1/d),
    with per-digit absolute deviation.  (The fixture's uniform-ish
    values will NOT follow Benford - which is the point: the report
    shows deviation magnitudes, and the test asserts the ledger's
    internal consistency, not conformance.)  The leading digit comes
    from the INTEGER cents rendering (first char of the int string -
    no float log in the digit extraction path), counts are one hash
    agg over <= 9 groups with map-side combine, the total is a 1-row
    broadcast, and the only float is the Benford constant itself -
    log10 of a literal, computed once per digit identically on both
    engines and floored to micro.  Zero-cent rows are excluded (no
    leading digit).  One scan, one tiny shuffle at any scale."""
    ev = load(spark, sf, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    v = ev.select(cents.alias("c")).filter(F.col("c") >= 1).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("d")
    )
    n = v.agg(F.count("*").alias("total"))
    c = v.groupBy("d").agg(F.count("*").alias("cnt"))
    benford = F.floor(
        F.log10(1.0 + 1.0 / F.col("d")) * 1000000.0 + 0.5
    ).cast("long")
    observed = F.expr("CAST((cnt * 1000000) div total AS BIGINT)")
    return c.crossJoin(F.broadcast(n)).select(
        F.col("d").alias("digit"),
        "cnt",
        observed.alias("observed_micro"),
        benford.alias("benford_micro"),
        F.abs(observed - benford).alias("abs_dev_micro"),
    )


# ---------------------------------------------------------------------------
# Observation-API metric sidecar
# ---------------------------------------------------------------------------


@query(
    "pipeline_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative,
           CAST(max(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_max
    FROM events
    """,
)
def pipeline_observe_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Observation-API metric sidecar: quality metrics (row count, exact
    cents total, negative-value count, type cardinality) collected
    DURING the main action via df.observe() - zero extra scans, which
    is the entire point at 100 TB: a pipeline that re-scans its input
    to compute its own health metrics pays the job twice, while
    observed metrics ride the existing pass as accumulator-style
    aggregates (Spark's CollectMetrics operator).  The observed values
    are returned as the 1-row result frame so the driver can
    oracle-check them - production wiring would instead forward them to
    the metrics sink from a QueryExecutionListener (streaming:
    StreamingQueryListener, the same API pair the reference's heartbeat
    thread approximates, receiver.py:259-265).  The observing pass
    itself writes to a noop sink: metrics-only consumption, the
    cheapest possible full-scan audit."""
    from pyspark.sql import Observation

    ev = load(spark, sf, "events")
    obs = Observation("contract")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("cents_sum"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
        # DISTINCT aggregates are rejected inside observed metrics
        # (CollectMetrics must stay single-pass accumulator-style) - the
        # cardinality metric a real sidecar ships is approx_count_distinct
        F.max(cents).alias("cents_max"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get

    def as_long(v):
        # sum/max over an EMPTY scan observe as None - keep the NULL (the
        # oracle's sum/max are NULL there too); int(None) crashed the
        # empty-input sweep (round 8)
        return None if v is None else int(v)

    return local_frame(
        spark,
        [
            (
                as_long(m["n_rows"]),
                as_long(m["cents_sum"]),
                as_long(m["n_negative"]),
                as_long(m["cents_max"]),
            )
        ],
        "n_rows long, cents_sum long, n_negative long, cents_max long",
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample drift test (integer-exact)
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "click", "view"


@query(
    "agg_ks_drift",
    oracle=f"""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')),
    n AS (
      SELECT CAST(sum(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM v),
    g AS (
      SELECT cents,
             CAST(sum(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(sum(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d2
      FROM v GROUP BY cents),
    c AS (
      SELECT cents,
             CAST(sum(d1) OVER w AS BIGINT) AS c1,
             CAST(sum(d2) OVER w AS BIGINT) AS c2
      FROM g
      WINDOW w AS (PARTITION BY cents // 100000000 ORDER BY cents
                   ROWS UNBOUNDED PRECEDING)),
    d AS (
      SELECT CAST(max(abs(c1 * n.n2 - c2 * n.n1)) AS BIGINT) AS d_scaled,
             n.n1, n.n2
      FROM c CROSS JOIN n GROUP BY n.n1, n.n2)
    SELECT n1, n2, d_scaled,
           floor((d_scaled * 1.0 / (n1 * n2)) * 1000000.0 + 0.5) / 1000000.0
             AS ks_d,
           floor((d_scaled * 1.0 / (n1 * n2))
                 / sqrt((n1 + n2) * 1.0 / (n1 * n2)) * 10000.0 + 0.5)
             / 10000.0 AS ks_stat_norm
    FROM d
    """,
)
def agg_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the value
    distributions of two event types - the distribution-shift monitor an
    ML-serving pipeline runs on its features (Welch compares MEANS;
    KS catches shape changes a mean test integrates away).  The KS
    statistic D = max |F1(x) - F2(x)| is computed EXACTLY in integers:
    both ECDFs become running counts over one merged sort of integer
    cents, and |c1/n1 - c2/n2| is maximized as |c1*n2 - c2*n1| (same
    argmax, no division) - so D's numerator is bit-identical on both
    engines and only the final two display ratios are (identically
    spelled, pround-ed) floats.  The ECDFs step only at DISTINCT value
    boundaries (per-cents counts aggregated BEFORE the running sum), so
    tied values never produce mid-tie prefixes that would overstate D,
    and the window runs over |distinct values| rows, not samples
    (partition key cents // 1e8 is constant
    for the fixture range - the win_rolling_corr spelling; at 100 TB
    you shard the ECDF by value-range buckets and take the max of
    per-bucket maxima, which this partitioning already is); one 1-row
    stats broadcast.  ks_stat_norm divides D by sqrt((n1+n2)/(n1*n2)) -
    the scale against which the 1.36 (alpha=0.05) critical value
    applies."""
    ev = load(spark, sf, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    n = v.agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0)).alias("n2"),
    )
    g = v.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0)).alias("d2"),
    )
    w = (
        Window.partitionBy(F.expr("cents div 100000000"))
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "cents",
        F.sum("d1").over(w).alias("c1"),
        F.sum("d2").over(w).alias("c2"),
    )
    d = (
        c.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("long")
            .alias("d_scaled")
        )
    )
    # nullif-guard the sample-size product: with one sample absent
    # (n1*n2 = 0) DuckDB's x/0 yields NULL while Spark's ANSI division
    # throws - the ratios must be NULL on both engines (degenerate-corpus
    # sweep, round 7)
    n1n2 = F.nullif((F.col("n1") * F.col("n2")).cast("double"), F.lit(0.0))
    ks_d = F.col("d_scaled") * 1.0 / n1n2
    return d.select(
        "n1",
        "n2",
        "d_scaled",
        pround(ks_d, 6).alias("ks_d"),
        pround(
            ks_d / F.sqrt((F.col("n1") + F.col("n2")) * 1.0 / n1n2),
            4,
        ).alias("ks_stat_norm"),
    )


# ---------------------------------------------------------------------------
# chi-square independence test
# ---------------------------------------------------------------------------


@query(
    "agg_chi2_independence",
    oracle="""
    WITH o AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) % 7 AS dow,
             CAST(count(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_n FROM o GROUP BY 1),
    c AS (
      SELECT dow, CAST(sum(obs) AS BIGINT) AS col_n FROM o GROUP BY 1),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM o),
    x AS (
      SELECT o.event_type, o.dow, o.obs,
             (m.row_n * c.col_n * 1.0 / t.total) AS expected
      FROM o JOIN m ON o.event_type = m.event_type
      JOIN c ON o.dow = c.dow CROSS JOIN t)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(obs) AS BIGINT) AS n_obs,
           floor(sum((obs - expected) * (obs - expected) / expected)
                 * 10000.0 + 0.5) / 10000.0 AS chi2_part
    FROM x GROUP BY event_type
    """,
)
def agg_chi2_independence(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence test of the event_type x day-of-week
    contingency table - 'is traffic mix stable across the week', the
    categorical drift monitor next to agg_ks_drift's continuous one.
    Observed counts and all marginals are exact integers from ONE hash
    agg over the contingency cells (never the raw stream twice); the
    expected values and the chi-square terms are floats computed with
    one identical spelling on both engines from those exact inputs,
    reported per event type (chi2_part sums to the full statistic; df =
    (types-1)*(dows-1) is a constant the caller knows).  The summation
    ORDER of the float chi-square terms is fixed by the per-type group
    (7 cells summed in groupBy - both engines sum 7 near-equal positive
    terms; pround at 1e-4 absorbs the associativity ulp).  Cell count
    rides along so a sparse table (missing cells = structural zeros)
    is visible rather than silently biasing the statistic."""
    ev = load(spark, sf, "events")
    o = ev.groupBy(
        "event_type",
        (F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long") % 7).alias(
            "dow"
        ),
    ).agg(F.count("*").alias("obs"))
    m = o.groupBy("event_type").agg(F.sum("obs").alias("row_n"))
    c = o.groupBy("dow").agg(F.sum("obs").alias("col_n"))
    t = o.agg(F.sum("obs").alias("total"))
    x = (
        o.join(F.broadcast(m), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "expected", F.col("row_n") * F.col("col_n") * 1.0 / F.col("total")
        )
    )
    term = (F.col("obs") - F.col("expected")) * (
        F.col("obs") - F.col("expected")
    ) / F.col("expected")
    return x.groupBy("event_type").agg(
        F.count("*").alias("n_cells"),
        F.sum("obs").alias("n_obs"),
        pround(F.sum(term), 4).alias("chi2_part"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence per source (dataset-mixture drift)
# ---------------------------------------------------------------------------


@query(
    "text_js_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents),
    c AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
    st AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS s_t FROM c GROUP BY source),
    g AS (
      SELECT token, CAST(sum(c) AS BIGINT) AS g_t FROM c GROUP BY token),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM c),
    grid AS (
      SELECT st.source, st.s_t, g.token, g.g_t, t.tt,
             coalesce(c.c, 0) AS c
      FROM st CROSS JOIN g CROSS JOIN t
      LEFT JOIN c ON c.source = st.source AND c.token = g.token),
    terms AS (
      SELECT source, s_t, tt,
             CASE WHEN c > 0 THEN
               c * CAST(floor(ln((2.0 * c * tt)
                     / CAST(c * tt + g_t * s_t AS DOUBLE)) * 1000000.0 + 0.5)
                   AS BIGINT) ELSE 0 END AS p_term,
             g_t * CAST(floor(ln((2.0 * g_t * s_t)
                     / CAST(c * tt + g_t * s_t AS DOUBLE)) * 1000000.0 + 0.5)
                   AS BIGINT) AS q_term
      FROM grid)
    SELECT source,
           CAST(max(s_t) AS BIGINT) AS n_tokens,
           CAST(sum(p_term) // max(s_t) AS BIGINT) AS kl_p_micro,
           CAST(sum(q_term) // max(tt) AS BIGINT) AS kl_q_micro,
           CAST((sum(p_term) // max(s_t) + sum(q_term) // max(tt)) // 2
                AS BIGINT) AS js_micro
    FROM terms GROUP BY source
    """,
)
def text_js_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    against the whole corpus - the dataset-mixture drift monitor
    (symmetric, bounded by ln 2, defined even where KL blows up on
    unseen tokens - exactly why JS, not KL, is the mixture diagnostic).
    Every log term's ARGUMENT is a ratio of exact integer products
    (2*c*T / (c*T + g*s)), the ln is floored to integral micro-nats per
    term BEFORE any sum (the text_perplexity_proxy discipline - sums
    stay order-independent integers, bit-identical across engines), and
    the final normalizations are integer floor divisions.  Plan: one
    token-count shuffle; source totals, the vocabulary frame and the
    1-row corpus total are all broadcast-small, and the dense
    source x vocab grid is vocabulary-bounded (never data-bounded) -
    the LEFT join pulls each source's own counts onto it.  At larger T
    the integer products approach int64 - rescale counts to per-million
    before the ratio (same floor discipline) when T exceeds ~1e9."""
    d = load(spark, sf, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    c = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    st = c.groupBy("source").agg(F.sum("c").alias("s_t"))
    g = c.groupBy("token").agg(F.sum("c").alias("g_t"))
    t = c.agg(F.sum("c").alias("tt"))
    grid = (
        st.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(t))
        .join(c, ["source", "token"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    denom = (F.col("c") * F.col("tt") + F.col("g_t") * F.col("s_t")).cast("double")
    p_ln = F.floor(
        F.log((2.0 * F.col("c") * F.col("tt")) / denom) * 1000000.0 + 0.5
    ).cast("long")
    q_ln = F.floor(
        F.log((2.0 * F.col("g_t") * F.col("s_t")) / denom) * 1000000.0 + 0.5
    ).cast("long")
    terms = grid.select(
        "source",
        "s_t",
        "tt",
        F.when(F.col("c") > 0, F.col("c") * p_ln).otherwise(0).alias("p_term"),
        (F.col("g_t") * q_ln).alias("q_term"),
    )
    return terms.groupBy("source").agg(
        F.max("s_t").alias("n_tokens"),
        F.expr("CAST(sum(p_term) div max(s_t) AS BIGINT)").alias("kl_p_micro"),
        F.expr("CAST(sum(q_term) div max(tt) AS BIGINT)").alias("kl_q_micro"),
        F.expr(
            "CAST((sum(p_term) div max(s_t) + sum(q_term) div max(tt)) div 2"
            " AS BIGINT)"
        ).alias("js_micro"),
    )


# ---------------------------------------------------------------------------
# winsorized mean (robust location)
# ---------------------------------------------------------------------------


@query(
    "agg_winsorized_mean",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT event_type,
             CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
             CAST(floor(quantile_cont(cents, 0.95) + 0.5) AS BIGINT) AS hi
      FROM v GROUP BY event_type),
    w AS (
      SELECT v.event_type,
             CASE WHEN v.cents < b.lo THEN b.lo
                  WHEN v.cents > b.hi THEN b.hi
                  ELSE v.cents END AS wc,
             CASE WHEN v.cents < b.lo OR v.cents > b.hi THEN 1 ELSE 0 END
               AS clipped
      FROM v JOIN b ON v.event_type = b.event_type)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(clipped) AS BIGINT) AS n_clipped,
           CAST(sum(wc) // count(*) AS BIGINT) AS winsor_mean_cents,
           CAST(sum(wc) AS BIGINT) AS winsor_sum_cents
    FROM w GROUP BY event_type
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized mean per event type - the robust-location complement to
    agg_mad_robust's dispersion: values beyond the 5th/95th percentile
    are CLIPPED to the boundary (not dropped - winsorizing keeps the
    sample size, which matters when the tail carries real mass), then
    averaged.  The clip boundaries are the exact interpolated
    percentiles FLOORED to integer cents with one shared spelling, so
    the clip decision, the clipped sum and the final floor-divided mean
    are pure integer arithmetic on both engines - no float accumulation
    anywhere after the two boundary constants.  Plan: one per-type
    percentile agg (broadcast |types| rows of boundaries) + one clipped
    integer agg over the same scan keyed identically; clipped-row
    counts ride along so the report shows how much tail was touched."""
    ev = load(spark, sf, "events")
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    b = v.groupBy("event_type").agg(
        F.floor(F.percentile("cents", F.lit(0.05))).cast("long").alias("lo"),
        F.floor(F.percentile("cents", F.lit(0.95)) + 0.5).cast("long").alias("hi"),
    )
    w = v.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents"))
        .alias("wc"),
        F.when(
            (F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1
        )
        .otherwise(0)
        .alias("clipped"),
    )
    return w.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("clipped").alias("n_clipped"),
        F.expr("CAST(sum(wc) div count(*) AS BIGINT)").alias(
            "winsor_mean_cents"
        ),
        F.sum("wc").alias("winsor_sum_cents"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth curve
# ---------------------------------------------------------------------------

_HEAPS_STEPS = 10


@query(
    "text_heaps_law",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    firstseen AS (
      SELECT token, CAST(min(doc_id) AS BIGINT) AS first_doc,
             CAST(count(*) AS BIGINT) AS n_occ
      FROM tok GROUP BY token),
    docstats AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY doc_id),
    bounds AS (SELECT CAST(max(doc_id) AS BIGINT) AS dmax FROM docstats),
    cps AS (
      SELECT CAST(((b.dmax + 1) * s.step) // {_HEAPS_STEPS} AS BIGINT)
               AS cutoff,
             CAST(s.step AS BIGINT) AS step
      FROM bounds b,
           (SELECT unnest(range(1, {_HEAPS_STEPS + 1})) AS step) s)
    SELECT c.step, c.cutoff,
           CAST((SELECT count(*) FROM docstats d WHERE d.doc_id < c.cutoff)
                AS BIGINT) AS n_docs,
           CAST((SELECT coalesce(sum(d.nt), 0) FROM docstats d
                 WHERE d.doc_id < c.cutoff) AS BIGINT) AS n_tokens,
           CAST((SELECT count(*) FROM firstseen f
                 WHERE f.first_doc < c.cutoff) AS BIGINT) AS vocab
    FROM cps c
    """,
)
def text_heaps_law(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-vocabulary size as the
    corpus grows through {_HEAPS_STEPS} doc-id checkpoints - the
    corpus-health companion to text_zipf_slope (Zipf reads the frequency
    axis, Heaps the growth axis; a vocabulary that stops growing
    sublinearly signals template/duplicate contamination).  The whole
    curve costs ONE pass: each token's FIRST-SEEN doc id (a min-agg) is
    computed once, and vocab at any checkpoint is just 'first_doc <
    cutoff' - a broadcast-joined conditional count over the
    vocabulary-bounded first-seen frame, never a re-scan per checkpoint
    (the naive spelling runs {_HEAPS_STEPS} distinct-counts over
    {_HEAPS_STEPS} growing prefixes).  Token totals per checkpoint come
    from the same trick on the per-doc count frame.  All integers."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    firstseen = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    docstats = tok.groupBy("doc_id").agg(F.count("*").alias("nt"))
    bounds = docstats.agg(F.max("doc_id").alias("dmax"))
    cps = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(_HEAPS_STEPS))).alias("step"),
        "dmax",
    ).select(
        F.col("step").cast("long").alias("step"),
        F.expr(f"CAST(((dmax + 1) * step) div {_HEAPS_STEPS} AS BIGINT)").alias(
            "cutoff"
        ),
    )
    vocab = (
        cps.join(F.broadcast(firstseen), F.col("first_doc") < F.col("cutoff"))
        .groupBy("step", "cutoff")
        .agg(F.count("*").alias("vocab"))
    )
    docs = (
        cps.join(docstats, F.col("doc_id") < F.col("cutoff"))
        .groupBy("step", "cutoff")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    return (
        cps.join(docs, ["step", "cutoff"], "left")
        .join(vocab, ["step", "cutoff"], "left")
        .select(
            "step",
            "cutoff",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("vocab", F.lit(0)).alias("vocab"),
        )
    )


# ---------------------------------------------------------------------------
# difference-in-differences
# ---------------------------------------------------------------------------

_DID_T, _DID_C = "purchase", "click"  # treated / control series


@query(
    "events_did_analysis",
    oracle=f"""
    WITH cut AS (
      SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
               AS mid
      FROM events),
    v AS (
      SELECT CASE WHEN event_type = '{_DID_T}' THEN 'treated'
                  ELSE 'control' END AS grp,
             CASE WHEN epoch_us(ts) >= cut.mid THEN 'post' ELSE 'pre' END
               AS period,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events CROSS JOIN cut
      WHERE event_type IN ('{_DID_T}', '{_DID_C}')),
    s AS (
      SELECT grp, period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sc
      FROM v GROUP BY grp, period),
    m AS (
      SELECT
        max(CASE WHEN grp='treated' AND period='pre' THEN sc * 1.0 / n END)
          AS tp0,
        max(CASE WHEN grp='treated' AND period='post' THEN sc * 1.0 / n END)
          AS tp1,
        max(CASE WHEN grp='control' AND period='pre' THEN sc * 1.0 / n END)
          AS cp0,
        max(CASE WHEN grp='control' AND period='post' THEN sc * 1.0 / n END)
          AS cp1,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM s)
    SELECT n_total,
           floor((tp1 - tp0) * 100.0 + 0.5) / 100.0 AS treated_delta,
           floor((cp1 - cp0) * 100.0 + 0.5) / 100.0 AS control_delta,
           floor(((tp1 - tp0) - (cp1 - cp0)) * 100.0 + 0.5) / 100.0
             AS did_cents
    FROM m
    """,
)
def events_did_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences - the workhorse quasi-experimental
    estimator when randomization isn't available: the treated series'
    pre-to-post mean change minus the control series' change over the
    SAME split (the stream's own temporal midpoint, so the query is
    replayable), which nets out any shared time trend under the
    parallel-trends assumption.  All four cell means come from ONE
    conditional aggregate over integer cents (4 groups x 2 sums - no
    per-cell scans), pivoted via conditional max on the 4-row frame;
    the three deltas are single float subtractions of exact-int ratios
    with one shared spelling, pround-ed.  The 1-row midpoint agg
    broadcasts.  At 100 TB this shape is one pass whatever the group
    count - the estimator is O(cells), the scan is O(data)."""
    ev = load(spark, sf, "events").filter(
        F.col("event_type").isin(_DID_T, _DID_C)
    )
    cut = load(spark, sf, "events").agg(
        F.expr(
            "CAST((min(unix_micros(ts)) + max(unix_micros(ts))) div 2 AS BIGINT)"
        ).alias("mid")
    )
    v = ev.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("event_type") == _DID_T, "treated")
        .otherwise("control")
        .alias("grp"),
        F.when(F.unix_micros("ts") >= F.col("mid"), "post")
        .otherwise("pre")
        .alias("period"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    s = v.groupBy("grp", "period").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sc")
    )

    def cell(g, p):
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("sc") * 1.0 / F.col("n"),
            )
        )

    m = s.agg(
        cell("treated", "pre").alias("tp0"),
        cell("treated", "post").alias("tp1"),
        cell("control", "pre").alias("cp0"),
        cell("control", "post").alias("cp1"),
        F.sum("n").alias("n_total"),
    )
    return m.select(
        "n_total",
        pround(F.col("tp1") - F.col("tp0"), 2).alias("treated_delta"),
        pround(F.col("cp1") - F.col("cp0"), 2).alias("control_delta"),
        pround(
            (F.col("tp1") - F.col("tp0")) - (F.col("cp1") - F.col("cp0")), 2
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------------


@query(
    "events_cuped_adjustment",
    oracle="""
    WITH cut AS (
      SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
               AS mid
      FROM events),
    u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN epoch_us(ts) < cut.mid
                       THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= cut.mid
                       THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
      FROM events CROSS JOIN cut
      GROUP BY user_id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM u)
    SELECT n,
           floor(((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                 * 10000.0 + 0.5) / 10000.0 AS theta,
           floor(((n * syy - sy * sy) * 1.0 / (1.0 * n * n)) * 100.0 + 0.5)
             / 100.0 AS var_y,
           floor((((n * syy - sy * sy) * 1.0
                   - ((n * sxy - sx * sy) * 1.0 * (n * sxy - sx * sy))
                     / (n * sxx - sx * sx)) / (1.0 * n * n)) * 100.0 + 0.5)
             / 100.0 AS var_adj,
           CAST(floor((((n * sxy - sx * sy) * 1.0 * (n * sxy - sx * sy))
                       / ((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)))
                      * 1000000.0) AS BIGINT) AS reduction_micro
    FROM s
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 - the estimator
    every large experimentation platform applies before reading an A/B
    test): per-user PRE-period spend as the covariate X, post-period
    spend as the metric Y, theta = cov(X,Y)/var(X), and the adjusted
    metric's variance in CLOSED FORM - var(Y) - cov^2/var(X) - so the
    whole adjustment costs the sufficient statistics (n, sums, squares,
    cross-product of integer cents) from ONE per-user pass: no second
    scan, no adjusted-row materialization (you'd only materialize Y'
    when handing rows to the test itself).  reduction_micro =
    corr(X,Y)^2 is the fraction of variance removed - the number that
    decides whether CUPED is worth wiring into a given metric.  The
    pre/post split is the stream's own temporal midpoint (replayable,
    as events_did_analysis).  All stats exact integers; the float tail
    is three identically-spelled expressions.  One user-keyed shuffle;
    the stats frame is 1 row."""
    ev = load(spark, sf, "events")
    cut = ev.agg(
        F.expr(
            "CAST((min(unix_micros(ts)) + max(unix_micros(ts))) div 2 AS BIGINT)"
        ).alias("mid")
    )
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    u = (
        ev.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.unix_micros("ts") < F.col("mid"), cents).otherwise(0)).alias("x"),
            F.sum(F.when(F.unix_micros("ts") >= F.col("mid"), cents).otherwise(0)).alias("y"),
        )
    )
    s = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    covn = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varxn = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    varyn = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    nn = 1.0 * F.col("n") * F.col("n")
    return s.select(
        "n",
        pround(covn * 1.0 / varxn, 4).alias("theta"),
        pround(varyn * 1.0 / nn, 2).alias("var_y"),
        pround((varyn * 1.0 - (covn * 1.0 * covn) / varxn) / nn, 2).alias(
            "var_adj"
        ),
        F.floor(
            ((covn * 1.0 * covn) / (varxn * 1.0 * varyn)) * 1000000.0
        )
        .cast("long")
        .alias("reduction_micro"),
    )


# ---------------------------------------------------------------------------
# source-concentration diagnostics (Gini + HHI)
# ---------------------------------------------------------------------------


@query(
    "text_source_concentration",
    oracle="""
    WITH s AS (
      SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS mass
      FROM documents GROUP BY source),
    r AS (
      SELECT source, mass,
             row_number() OVER (PARTITION BY mass // 1000000000000
                                ORDER BY mass, source) AS rk
      FROM s),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(mass) AS BIGINT) AS total,
             CAST(sum(rk * mass) AS BIGINT) AS wsum,
             CAST(sum(mass * mass) AS BIGINT) AS sq
      FROM r)
    SELECT n, total,
           CAST(((2 * wsum - (n + 1) * total) * 1000000) // (n * total)
                AS BIGINT) AS gini_micro,
           CAST((sq * 1000000) // (total * total) AS BIGINT) AS hhi_micro,
           CAST((((sq * 1000000) // (total * total)) * n - 1000000)
                // (n - 1) AS BIGINT) AS hhi_normalized_micro
    FROM t
    """,
)
def text_source_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Source-concentration diagnostics for the corpus mix: the Gini
    coefficient and the Herfindahl-Hirschman index of token mass across
    sources - the one-number balance gauges next to
    text_source_entropy's information view (HHI is what antitrust and
    data-governance reviews quote; Gini is what the mix dashboard
    plots).  Gini uses the exact sorted-shares identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) on integer token
    masses, with the rank over the SOURCE frame (|sources| rows - the
    window partition key mass // 1e12 is constant, the bounded-frame
    spelling; ties break on source id identically in both engines).
    HHI is sum(share^2) as one exact integer ratio.  All floor-division
    micro-units - no float anywhere.  One data shuffle (the per-source
    token-mass agg)."""
    d = load(spark, sf, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("mass")
    )
    w = Window.partitionBy(F.expr("mass div 1000000000000")).orderBy(
        "mass", "source"
    )
    r = s.withColumn("rk", F.row_number().over(w).cast("long"))
    t = r.agg(
        F.count("*").alias("n"),
        F.sum("mass").alias("total"),
        F.sum(F.col("rk") * F.col("mass")).alias("wsum"),
        F.sum(F.col("mass") * F.col("mass")).alias("sq"),
    )
    return t.select(
        "n",
        "total",
        F.expr(
            "CAST(((2 * wsum - (n + 1) * total) * 1000000) div (n * total)"
            " AS BIGINT)"
        ).alias("gini_micro"),
        F.expr("CAST((sq * 1000000) div (total * total) AS BIGINT)").alias(
            "hhi_micro"
        ),
        # normalized HHI (HHI - 1/n)/(1 - 1/n) = (HHI*n - 1)/(n - 1):
        # 0 = perfectly even mix, 1e6 = single-source monopoly
        F.expr(
            "CAST((((sq * 1000000) div (total * total)) * n - 1000000)"
            " div (n - 1) AS BIGINT)"
        ).alias("hhi_normalized_micro"),
    )


# ---------------------------------------------------------------------------
# corpus-derived stopword discovery
# ---------------------------------------------------------------------------

_SW_DF_MIN = 0.4  # document-frequency share above which a token is a stopword


@query(
    "text_stopword_discovery",
    oracle=f"""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY token)
    SELECT df.token, df.df,
           CAST((df.df * 1000000) // n.n_docs AS BIGINT) AS df_micro,
           CAST(floor(ln(n.n_docs * 1.0 / df.df) * 1000000.0 + 0.5)
                AS BIGINT) AS idf_micro
    FROM df CROSS JOIN n
    WHERE df.df * 10 >= {int(_SW_DF_MIN * 10)} * n.n_docs
    ORDER BY df.df DESC, df.token
    """,
)
def text_stopword_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-derived stopword discovery: tokens whose DOCUMENT frequency
    exceeds {_SW_DF_MIN:.0%} of the corpus - the data-driven stopword
    list a language-agnostic pipeline builds instead of shipping
    hand-curated lists per language (the reference point: this is how
    Lucene/ES 'common terms' and the C4 filters derive their function
    words).  df counts come from the distinct (doc, token) projection
    (one explode + distinct + hash agg - the text_tfidf front half);
    the threshold comparison is pure integer cross-multiplication
    (df * 10 >= 4 * n_docs - no float ratio ever compared), and the
    idf ride-along is the floored micro-nat ln.  The output IS the
    broadcast-able stopword dim every downstream text operator consumes.
    Ordering: df desc, token - deterministic."""
    d = load(spark, sf, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    df = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    thr_num = int(_SW_DF_MIN * 10)
    return (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df") * 10 >= thr_num * F.col("n_docs"))
        .select(
            "token",
            "df",
            F.expr("CAST((df * 1000000) div n_docs AS BIGINT)").alias(
                "df_micro"
            ),
            F.floor(
                F.log(F.col("n_docs") * 1.0 / F.col("df")) * 1000000.0 + 0.5
            )
            .cast("long")
            .alias("idf_micro"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
    )


# ---------------------------------------------------------------------------
# maximum drawdown of the cumulative revenue series
# ---------------------------------------------------------------------------


@query(
    "win_max_drawdown",
    oracle="""
    WITH r AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_id,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2),
    rr AS (
      SELECT event_type,
             CAST(sum(cents) // count(*) AS BIGINT) AS runrate
      FROM r GROUP BY event_type),
    d AS (
      SELECT r.event_type, r.day_id,
             CAST(r.cents - rr.runrate AS BIGINT) AS net_cents
      FROM r JOIN rr ON r.event_type = rr.event_type),
    cs AS (
      SELECT event_type, day_id,
             CAST(sum(net_cents) OVER (PARTITION BY event_type
                     ORDER BY day_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM d),
    c AS (
      SELECT event_type, day_id, cum,
             CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
      FROM cs)
    SELECT event_type,
           CAST(max(peak - cum) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(count(*) AS BIGINT) AS n_days
    FROM c GROUP BY event_type
    """,
)
def win_max_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown of each type's cumulative DEVIATION-FROM-RUN-RATE
    series (daily cents minus the type's own integer average daily
    cents - the series oscillates around zero by construction, so the
    metric is never vacuous; the raw cumulative revenue of a healthy
    stream is monotone and its drawdown trivially 0): the largest
    peak-to-trough drop, i.e. the worst sustained stretch of
    under-run-rate performance - THE risk statistic for any cumulative
    P&L / budget-burn curve, and the one-number summary a revenue
    anomaly pager thresholds on.  Spelled as two stacked windows over
    the daily frame - running sum, then running max OF that running sum
    (both engines support windowed-aggregate nesting; same frame, same
    single sort per type) - and one final max of (peak - cum).  All
    integer cents end to end; the daily agg is the only data-volume
    shuffle, the windows run over calendar-bounded frames keyed by
    type."""
    ev = load(spark, sf, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    r = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 86_400_000_000.0).cast("long").alias("day_id"),
    ).agg(F.sum(cents).alias("cents"))
    rr = r.groupBy("event_type").agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("runrate")
    )
    d = r.join(F.broadcast(rr), "event_type").select(
        "event_type",
        "day_id",
        (F.col("cents") - F.col("runrate")).cast("long").alias("net_cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("net_cents").over(w).cast("long")).withColumn(
        "peak", F.max("cum").over(w).cast("long")
    )
    return c.groupBy("event_type").agg(
        F.max(F.col("peak") - F.col("cum")).alias("max_drawdown_cents"),
        F.max("peak").alias("peak_cents"),
        F.count("*").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# A/B power analysis (required sample size)
# ---------------------------------------------------------------------------


@query(
    "events_power_analysis",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS s2
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           floor((s1 * 1.0 / n) * 100.0 + 0.5) / 100.0 AS mean_cents,
           floor(((s2 - s1 * 1.0 * s1 / n) / (n - 1)) * 100.0 + 0.5) / 100.0
             AS var_cents,
           CAST(ceil((2.0 * 7.849
                      * ((s2 - s1 * 1.0 * s1 / n) / (n - 1)))
                     / ((0.05 * (s1 * 1.0 / n)) * (0.05 * (s1 * 1.0 / n))))
                AS BIGINT) AS n_per_arm_5pct
    FROM s
    """,
)
def events_power_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """A/B sample-size calculator per metric stream: the users-per-arm
    needed to detect a 5% lift of the mean at alpha = 0.05 / power = 0.8
    (two-sided): n = 2 * (z_{{a/2}} + z_b)^2 * var / delta^2 with
    (1.96 + 0.8416)^2 = 7.849 - the experiment-planning complement to
    events_abtest_welch (that one reads a finished test; this one says
    whether the test is even worth starting at your traffic).  Variance
    and mean come from the same exact integer-cents sufficient
    statistics as every other stats operator here; the formula tail is
    one identically-spelled float expression with the z-constant inline
    (both engines parse the same literal), ceil'd to whole users.  One
    hash agg, |types| rows out."""
    ev = load(spark, sf, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    # n-1 and delta^2 nullif-guarded: single-row arms / zero means crash
    # ANSI division where DuckDB yields NULL (degenerate sweep, round 7)
    var = (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n")) / F.nullif(
        (F.col("n") - 1).cast("double"), F.lit(0.0)
    )
    delta = 0.05 * mean
    return s.select(
        "event_type",
        "n",
        pround(mean, 2).alias("mean_cents"),
        pround(var, 2).alias("var_cents"),
        F.ceil((2.0 * 7.849 * var) / F.nullif(delta * delta, F.lit(0.0)))
        .cast("long")
        .alias("n_per_arm_5pct"),
    )


# ---------------------------------------------------------------------------
# interval-overlap DURATION aggregation
# ---------------------------------------------------------------------------

_IOA_WEEK_US = 7 * 86_400_000_000


@query(
    "join_interval_overlap_agg",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             CAST(min(epoch_us(ts)) AS BIGINT) AS s0,
             CAST(max(epoch_us(ts)) AS BIGINT) AS s1
      FROM events GROUP BY user_id),
    b AS (SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS t0 FROM events),
    camp AS (
      SELECT CAST(w.w AS BIGINT) AS campaign_id,
             b.t0 + w.w * {_IOA_WEEK_US} AS c0,
             b.t0 + w.w * {_IOA_WEEK_US} + {_IOA_WEEK_US // 2} AS c1
      FROM b, (SELECT unnest(range(0, 4)) AS w) w),
    o AS (
      SELECT c.campaign_id,
             greatest(s.s0, c.c0) AS o0, least(s.s1, c.c1) AS o1
      FROM s JOIN camp c ON s.s0 < c.c1 AND c.c0 < s.s1)
    SELECT campaign_id,
           CAST(count(*) AS BIGINT) AS n_users_overlapping,
           CAST(sum(o1 - o0) // 60000000 AS BIGINT) AS overlap_minutes,
           CAST(max(o1 - o0) // 60000000 AS BIGINT) AS max_overlap_minutes
    FROM o GROUP BY campaign_id
    """,
)
def join_interval_overlap_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap DURATION aggregation - the temporal-algebra step
    beyond join_interval_overlap's boolean match: each user's activity
    span [first event, last event] intersected with four half-week
    campaign windows (anchored to the stream's own start - replayable),
    aggregating the intersection LENGTH greatest(starts)..least(ends) -
    the billing/attribution primitive ('how much exposure did each
    campaign actually get'), and what ad-measurement and SLA-credit
    queries actually compute.  The overlap predicate rides IN the join
    condition (s0 < c1 AND c0 < s1 - only true intersections
    materialize); the campaign side is a 4-row broadcast so the fact
    side never shuffles for the join (at many-campaign scale this
    becomes functions.band_join's bucket rewrite).  All integer
    microseconds; minutes are floor divisions."""
    ev = load(spark, sf, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("s0"),
        F.max(F.unix_micros("ts")).alias("s1"),
    )
    b = ev.agg(F.min(F.unix_micros("ts")).alias("t0"))
    camp = b.select(
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("campaign_id"), "t0"
    ).select(
        F.col("campaign_id").cast("long").alias("campaign_id"),
        (F.col("t0") + F.col("campaign_id") * _IOA_WEEK_US).alias("c0"),
        (
            F.col("t0")
            + F.col("campaign_id") * _IOA_WEEK_US
            + _IOA_WEEK_US // 2
        ).alias("c1"),
    )
    o = s.join(
        F.broadcast(camp),
        (F.col("s0") < F.col("c1")) & (F.col("c0") < F.col("s1")),
    ).select(
        "campaign_id",
        F.greatest("s0", "c0").alias("o0"),
        F.least("s1", "c1").alias("o1"),
    )
    return o.groupBy("campaign_id").agg(
        F.count("*").alias("n_users_overlapping"),
        F.expr("CAST(sum(o1 - o0) div 60000000 AS BIGINT)").alias(
            "overlap_minutes"
        ),
        F.expr("CAST(max(o1 - o0) div 60000000 AS BIGINT)").alias(
            "max_overlap_minutes"
        ),
    )


# ---------------------------------------------------------------------------
# Neyman optimal stratified allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 100  # total sample size to allocate


@query(
    "pipeline_sample_neyman",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n_h,
             -- single-doc stratum: sample variance undefined (0/0) ->
             -- weight 0, no variance evidence (multibyte sweep, round 8)
             CAST(floor(n_h * coalesce(sqrt((s2 - s1 * 1.0 * s1 / n_h)
                                            / nullif(n_h - 1, 0)), 0.0)
                        + 0.5) AS BIGINT) AS weight
      FROM s),
    t AS (SELECT CAST(sum(weight) AS BIGINT) AS wt FROM w),
    alloc AS (
      SELECT w.lang, w.n_h, w.weight,
             CAST((w.weight * {_NEYMAN_BUDGET}) // t.wt AS BIGINT) AS base,
             CAST((w.weight * {_NEYMAN_BUDGET}) % t.wt AS BIGINT) AS rem
      FROM w CROSS JOIN t),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY rem // 1000000000000
                                   ORDER BY rem DESC, lang) AS rk,
             CAST({_NEYMAN_BUDGET} - (SELECT sum(base) FROM alloc) AS BIGINT)
               AS leftover
      FROM alloc)
    SELECT lang, n_h, weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS n_alloc
    FROM ranked
    """,
)
def pipeline_sample_neyman(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman optimal stratified-sampling allocation: a {_NEYMAN_BUDGET}-doc
    labeling/eval budget split across language strata proportional to
    N_h * S_h (stratum size x stratum std-dev of doc length) - the
    design that minimizes estimator variance for a fixed budget, versus
    pipeline_mix_sample's proportional rates (the textbook pair).
    Stratum variances come from exact integer sufficient statistics;
    the single sqrt per stratum is rounded to an INTEGER weight before
    any allocation arithmetic, and the allocation itself is
    largest-remainder apportionment in pure integers (floor shares +
    the top-remainder strata absorb the leftover, ties on lang) - so
    allocations sum to the budget EXACTLY and identically on both
    engines.  Everything runs on the |strata|-row frame after one
    data-volume agg; the remainder rank uses the constant-partition
    window spelling."""
    d = load(spark, sf, "documents")
    s = d.groupBy("lang").agg(
        F.count("*").alias("n_h"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    # single-doc stratum: sample variance undefined (0/0) -> weight 0,
    # matching the oracle's nullif+coalesce (multibyte sweep, round 8)
    weight = F.floor(
        F.col("n_h")
        * F.coalesce(
            F.sqrt(
                (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n_h"))
                / F.nullif(F.col("n_h") - 1, F.lit(0))
            ),
            F.lit(0.0),
        )
        + 0.5
    ).cast("long")
    w = s.select("lang", "n_h", weight.alias("weight"))
    # every later step is a WINDOW over the |strata|-row frame (constant
    # partition key), so the plan has ONE strata subtree / one base scan -
    # the agg+crossJoin spelling re-planned it per derived branch (caught
    # by test_plan_quality's scan count)
    wall = Window.partitionBy(F.expr("weight div 1000000000000000"))
    alloc = w.withColumn("wt", F.sum("weight").over(wall).cast("long")).select(
        "lang",
        "n_h",
        "weight",
        F.expr(f"CAST((weight * {_NEYMAN_BUDGET}) div wt AS BIGINT)").alias("base"),
        ((F.col("weight") * _NEYMAN_BUDGET) % F.col("wt")).alias("rem"),
    )
    wr = Window.partitionBy(F.expr("rem div 1000000000000")).orderBy(
        F.desc("rem"), F.asc("lang")
    )
    return (
        alloc.withColumn("rk", F.row_number().over(wr).cast("long"))
        .withColumn(
            "leftover",
            (
                F.lit(_NEYMAN_BUDGET)
                - F.sum("base").over(
                    Window.partitionBy(F.expr("base div 1000000000000"))
                )
            ).cast("long"),
        )
        .select(
            "lang",
            "n_h",
            "weight",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alloc"),
        )
    )


# ---------------------------------------------------------------------------
# 2-hop reachability (friends-of-friends pool)
# ---------------------------------------------------------------------------


@query(
    "graph_two_hop_reach",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pdeg AS (SELECT p, count(*) AS deg FROM e0 GROUP BY p),
    e AS (
      SELECT e0.s, e0.p FROM e0 JOIN pdeg ON e0.p = pdeg.p
      WHERE pdeg.deg <= 64),
    hop2 AS (
      SELECT DISTINCT a.s AS s, b.s AS s2
      FROM e a JOIN e b ON a.p = b.p AND a.s <> b.s)
    SELECT s,
           CAST(count(*) AS BIGINT) AS n_two_hop,
           CAST(min(s2) AS BIGINT) AS min_peer,
           CAST(max(s2) AS BIGINT) AS max_peer
    FROM hop2 GROUP BY s
    ORDER BY n_two_hop DESC, s
    LIMIT 20
    """,
)
def graph_two_hop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Two-hop reachability (the friends-of-friends pool): for each
    supplier, the number of DISTINCT other suppliers reachable through a
    shared part - the candidate-pool sizing number behind every
    collaborative-filtering / link-prediction recommender (a pool too
    small starves recall; too large blows the ranking budget -
    graph_common_neighbors then scores within this pool).  Same
    inverted-index expansion and super-node part cap (degree <= 64) as
    the similarity query, but aggregated to DISTINCT reach per node (the
    distinct is the second shuffle; the cap bounds the per-part fan-out
    at deg^2).  Top-20 by pool size, ties on supplier id.  All
    integers."""
    li = load(spark, sf, "lineitem")
    e0 = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    pdeg = e0.groupBy("p").agg(F.count("*").alias("pd"))
    e = e0.join(pdeg.filter(F.col("pd") <= 64), "p").select("s", "p")
    a = e.select(F.col("s").alias("s"), "p")
    b = e.select(F.col("s").alias("s2"), F.col("p").alias("pb"))
    hop2 = (
        a.join(b, (F.col("p") == F.col("pb")) & (F.col("s") != F.col("s2")))
        .select("s", "s2")
        .distinct()
    )
    return (
        hop2.groupBy("s")
        .agg(
            F.count("*").alias("n_two_hop"),
            F.min("s2").alias("min_peer"),
            F.max("s2").alias("max_peer"),
        )
        .orderBy(F.desc("n_two_hop"), F.asc("s"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Seasonal-trend decomposition (round 10)
# ---------------------------------------------------------------------------

# Shared CTE chain: daily integer cents over a DENSIFIED calendar grid ->
# centered 7-day MA trend -> detrended -> day-of-week seasonal means.
# time_stl_decompose and events_seasonality_strength interpolate this into
# their oracles so the two can never drift apart.
#
# Densification (ADVICE r10): the ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
# frame is only a CALENDAR-centered 7-day average if every day between a
# series' min and max date has a row - a zero-event day absent from the
# aggregate would silently widen the window past 7 calendar days and drift
# the day-of-week means.  Each event_type's grid is generated from its own
# min/max date and zero-filled (a day with no events has a true daily sum
# of 0), so the frame is calendar-exact by construction on both engines.
_STL_CTES = """
    WITH daily0 AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(floor(sum(value) * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT event_type,
             CAST(unnest(generate_series(d_min, d_max, INTERVAL 1 DAY))
                  AS DATE) AS d
      FROM (SELECT event_type, min(d) AS d_min, max(d) AS d_max
            FROM daily0 GROUP BY 1)),
    daily AS (
      SELECT g.event_type, strftime(g.d, '%Y-%m-%d') AS day,
             coalesce(d0.cents, 0) AS cents
      FROM grid g LEFT JOIN daily0 d0
        ON g.event_type = d0.event_type AND g.d = d0.d),
    w AS (
      SELECT event_type, day, cents,
             sum(cents) OVER fr AS sum7,
             count(*) OVER fr AS cnt7
      FROM daily
      WINDOW fr AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    t AS (
      SELECT event_type, day, cents,
             CASE WHEN cnt7 = 7 THEN
               CAST(floor(CAST(sum7 * 1000 AS DOUBLE) / 7.0) AS BIGINT)
             END AS trend_milli
      FROM w),
    dt AS (
      SELECT event_type, day, cents, trend_milli,
             cents * 1000 - trend_milli AS detr_milli,
             dayofweek(CAST(day AS DATE)) AS dow
      FROM t),
    seas AS (
      SELECT event_type, dow,
             CAST(floor(CAST(sum(detr_milli) AS DOUBLE)
                        / count(detr_milli)) AS BIGINT) AS seasonal_milli
      FROM dt WHERE detr_milli IS NOT NULL GROUP BY 1, 2),
    joined AS (
      SELECT dt.event_type, dt.day, dt.cents, dt.trend_milli,
             seas.seasonal_milli, dt.detr_milli,
             dt.detr_milli - seas.seasonal_milli AS resid_milli
      FROM dt LEFT JOIN seas
        ON dt.event_type = seas.event_type AND dt.dow = seas.dow)
"""


def _stl_joined(spark: SparkSession, sf: str) -> DataFrame:
    """Spark dual of _STL_CTES: the fully-joined decomposition frame with
    detr_milli retained for downstream aggregation.  The per-type day grid
    is densified (sequence(min_d, max_d) + left join, zero-fill) so the
    7-row MA frame is a 7-CALENDAR-day frame (ADVICE r10); every frame
    after the daily agg is bounded by days x |event types|."""
    ev = load(spark, sf, "events")
    daily0 = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
    ).agg(
        F.floor(F.sum("value") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    bounds = daily0.groupBy("event_type").agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("d_min", "d_max")).alias("d"),
    )
    daily = grid.join(daily0, ["event_type", "d"], "left").select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("cents", F.lit(0)).alias("cents"),
    )
    fr = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    w = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(fr).alias("sum7"),
        F.count("*").over(fr).alias("cnt7"),
    )
    t = w.select(
        "event_type",
        "day",
        "cents",
        F.when(
            F.col("cnt7") == 7,
            F.floor((F.col("sum7") * 1000).cast("double") / 7.0).cast("long"),
        ).alias("trend_milli"),
    )
    dt = t.select(
        "event_type",
        "day",
        "cents",
        "trend_milli",
        (F.col("cents") * 1000 - F.col("trend_milli")).alias("detr_milli"),
        F.dayofweek(F.to_date("day")).alias("dow"),
    )
    seas = (
        dt.filter(F.col("detr_milli").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            F.floor(
                F.sum("detr_milli").cast("double") / F.count("detr_milli")
            )
            .cast("long")
            .alias("seasonal_milli")
        )
    )
    return dt.join(F.broadcast(seas), ["event_type", "dow"], "left").select(
        "event_type",
        "day",
        "cents",
        "trend_milli",
        "seasonal_milli",
        "detr_milli",
        (F.col("detr_milli") - F.col("seasonal_milli")).alias("resid_milli"),
    )


@query(
    "time_stl_decompose",
    oracle=_STL_CTES
    + """
    SELECT event_type, day, cents, trend_milli, seasonal_milli, resid_milli
    FROM joined
    """,
)
def time_stl_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Classical seasonal-trend decomposition (the moving-average STL
    variant: trend = centered 7-day moving average, seasonal = day-of-week
    mean of the detrended series, residual = remainder) of each event
    type's daily value series - the standard pre-step for anomaly
    detection and forecasting on business metrics (residuals are what a
    z-score alarm should watch, not the raw seasonal series).  The daily
    series is DENSIFIED per event type (sequence over [min, max] date +
    zero-fill) before the window, so the centered 7-row frame is exactly
    7 calendar days even when a day has zero events (ADVICE r10 - on a
    gappy series the row frame would silently span more days and skew
    the day-of-week means).

    Cross-engine exactness: the ONLY float aggregation is the initial
    daily sum(value), immediately quantized to integer cents (the house
    floor(x*100+0.5) spelling); everything downstream is integer
    milli-cent arithmetic.  Both flooring divisions are spelled
    floor(CAST(int AS DOUBLE) / n) on BOTH engines - never integer `div`,
    because detrended values go NEGATIVE and Spark's div truncates while
    DuckDB's // floors (the pipeline_importance_dsir lesson).  Edge days
    (first/last 3 per series) get NULL trend/residual rather than a
    partial-window estimate biased toward the series interior.  Day-of-
    week labels differ across engines (Spark 1-7 vs DuckDB 0-6) but the
    mapping is a bijection of the same date, so the GROUPS are identical
    and the label never leaves the plan.

    Plan: one data-volume shuffle (the daily agg, map-side combinable),
    then windows over ~days-per-type rows partitioned by event_type -
    parallel across types, bounded per partition (a year is 365 rows);
    the seasonal table is <= 7 x |types| rows, broadcast back.  At
    100 TB the daily agg dominates and stays fully distributed; nothing
    downstream ever sees raw events."""
    return _stl_joined(spark, sf).select(
        "event_type",
        "day",
        "cents",
        "trend_milli",
        "seasonal_milli",
        "resid_milli",
    )


@query(
    "events_seasonality_strength",
    oracle=_STL_CTES
    + """
    , c AS (
      SELECT event_type,
             CAST(floor(CAST(detr_milli AS DOUBLE) / 1000.0) AS BIGINT)
               AS detr_c,
             CAST(floor(CAST(resid_milli AS DOUBLE) / 1000.0) AS BIGINT)
               AS resid_c
      FROM joined WHERE resid_milli IS NOT NULL),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(detr_c * detr_c) AS BIGINT) AS ss_detrended,
             CAST(sum(resid_c * resid_c) AS BIGINT) AS ss_resid
      FROM c GROUP BY 1)
    SELECT event_type, n_days, ss_detrended, ss_resid,
           CASE WHEN ss_detrended > 0 THEN
             CAST(greatest(0, 1000 - floor(
               CAST(ss_resid AS DOUBLE) * 1000.0
               / CAST(ss_detrended AS DOUBLE))) AS BIGINT)
           END AS strength_milli
    FROM s
    """,
)
def events_seasonality_strength(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonality-strength diagnostic per event type: Hyndman's
    variance-ratio measure strength = max(0, 1 - Var(residual) /
    Var(detrended)) over the STL components (time_stl_decompose's exact
    frame - the two operators share one CTE chain / builder, so they can
    never drift).  Near 1000 milli = the day-of-week pattern explains
    almost all detrended variation (schedule alarms on residuals);
    near 0 = no weekly seasonality (an STL-based alarm adds nothing over
    a plain z-score).  The feature-selection gate in front of every
    seasonal forecaster.

    Cross-engine exactness: components are re-quantized from milli-cents
    to whole CENTS via floor(CAST AS DOUBLE / 1000.0) (negative-safe on
    both engines), so the sums of squares are exact BIGINT - at sf1 the
    largest |detr_c| is ~4e7, squared 1.6e15, x365 days ~= 6e17 < 2^63;
    beyond that scale the squares promote to DECIMAL(38) on the Spark
    side and HUGEINT already on DuckDB's.  The single strength division
    runs in double on two identically-rounded BIGINT->DOUBLE casts, then
    one floor.  Raw (uncentered) sums of squares stand in for the
    variance numerators: the residual/detrended series are APPROXIMATELY
    mean-centered by construction (the seasonal means are floored to
    integer milli and the MA trend does not exactly zero the detrended
    mean), so strength_milli carries a small uncentered-moment bias
    bounded by the milli quantization plus the residual mean - acceptable
    for a 0-1000 screening diagnostic, identical on both engines
    (ADVICE r10).

    Plan: everything time_stl_decompose does plus one more map-side-
    combinable hash agg to <= |event types| rows; no new shuffle of
    data-volume rows."""
    j = _stl_joined(spark, sf).filter(F.col("resid_milli").isNotNull())
    c = j.select(
        "event_type",
        F.floor(F.col("detr_milli").cast("double") / 1000.0)
        .cast("long")
        .alias("detr_c"),
        F.floor(F.col("resid_milli").cast("double") / 1000.0)
        .cast("long")
        .alias("resid_c"),
    )
    s = c.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("detr_c") * F.col("detr_c")).alias("ss_detrended"),
        F.sum(F.col("resid_c") * F.col("resid_c")).alias("ss_resid"),
    )
    ratio = F.floor(
        F.col("ss_resid").cast("double")
        * 1000.0
        / F.col("ss_detrended").cast("double")
    )
    return s.select(
        "event_type",
        "n_days",
        "ss_detrended",
        "ss_resid",
        F.when(
            F.col("ss_detrended") > 0,
            F.greatest(F.lit(0), F.lit(1000) - ratio).cast("long"),
        ).alias("strength_milli"),
    )


# ---------------------------------------------------------------------------
# Gini concentration (round 10)
# ---------------------------------------------------------------------------


@query(
    "agg_gini_concentration",
    oracle="""
    WITH j AS (
      SELECT n.n_name, o.o_orderkey,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_totalprice IS NOT NULL),
    r AS (
      SELECT n_name, cents,
             CAST(row_number() OVER (
               PARTITION BY n_name ORDER BY cents, o_orderkey) AS BIGINT)
               AS i
      FROM j),
    s AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(sum(i * cents) AS BIGINT) AS s1
      FROM r GROUP BY 1)
    SELECT n_name, n_orders, sum_cents,
           CAST(floor(CAST(2 * s1 - (n_orders + 1) * sum_cents AS DOUBLE)
                      * 1000000.0
                      / CAST(n_orders * sum_cents AS DOUBLE) + 0.5)
                AS BIGINT) AS gini_micro
    FROM s
    WHERE sum_cents > 0
    """,
)
def agg_gini_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of order values per nation - the inequality/
    concentration statistic behind revenue-concentration dashboards and
    data-curation balance audits (text_source_concentration's HHI
    measures market share of few big players; Gini measures the whole
    distribution's skew).  Uses the rank-based identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over x sorted
    ascending, which needs ONE ranking window and ONE aggregation -
    never the O(n^2) pairwise |x_i - x_j| definition.

    Cross-engine exactness: each order value quantizes to integer cents
    PER ROW (one double multiply, no float aggregation anywhere), ranks
    tiebreak on o_orderkey (ties in x leave sum(i*x) invariant under
    permutation, so the tiebreak is for determinism, not correctness),
    and both accumulators are exact BIGINT (sf1: sum(i*cents) ~ 3.6e16
    per nation, two orders of magnitude under 2^63; DECIMAL(38)
    promotion documented beyond sf10).  NULL order values are filtered
    BEFORE ranking on both engines - Spark sorts NULL first and DuckDB
    last, so a NULL surviving into the window would shift every rank.
    The single Gini division runs in double on identically-rounded
    BIGINT casts with the house floor(x+0.5); the numerator
    2*sum(i*x) - (n+1)*sum(x) is >= 0 by the Chebyshev sum inequality,
    so round-half-up never straddles zero.

    Plan: nation (25 rows, bounded) broadcasts unconditionally; the
    customer side is FACT-PROPORTIONAL, so its broadcast hint rides the
    catalog gate (gated_broadcast) - below 256 MiB it broadcasts and
    only the orders scan shuffles, beyond it the hint is withheld and
    Catalyst/AQE pick a shuffled hash join on c_custkey from real stats
    (an unconditional hint would override Spark's size checks and pin a
    multi-GB build side in every executor at 100x).  Then one window
    sort per nation partition and a combinable agg.  At 100 TB the
    per-nation sort is the bounded stage (|orders|/25 rows each); a
    low-cardinality group key with bigger groups would switch to the
    two-phase distributed rank (per-partition pre-agg + offset join,
    the functions.global_rank recipe)."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    j = (
        o.filter(F.col("o_totalprice").isNotNull())
        .join(gated_broadcast(c.select("c_custkey", "c_nationkey"),
                              sf, "customer"),
              o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("cents", "o_orderkey")
    r = j.select(
        "n_name",
        "cents",
        F.row_number().over(w).cast("long").alias("i"),
    )
    s = r.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
        F.sum(F.col("i") * F.col("cents")).alias("s1"),
    )
    num = (F.lit(2) * F.col("s1")
           - (F.col("n_orders") + F.lit(1)) * F.col("sum_cents"))
    den = F.col("n_orders") * F.col("sum_cents")
    return s.filter(F.col("sum_cents") > 0).select(
        "n_name",
        "n_orders",
        "sum_cents",
        F.floor(
            num.cast("double") * 1000000.0 / den.cast("double") + F.lit(0.5)
        )
        .cast("long")
        .alias("gini_micro"),
    )
