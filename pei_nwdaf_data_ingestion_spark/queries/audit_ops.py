"""Ranking-quality audits, robust statistics, matching, and weighted
sampling (round 11, second batch).

The operators a curation pipeline runs to JUDGE its own outputs: Tukey
outlier fences (the robust complement to z-scores), weighted
reservoir-style sampling (Efraimidis-Spirakis), RSI momentum over the
densified daily grid, partial autocorrelation (Durbin-Levinson over the
ACF chain), local clustering coefficients, coarsened-exact-matching
treatment effects, reciprocal-rank fusion of the sparse+dense
retrievers, and an nDCG audit of int8-quantized retrieval.

House float discipline throughout (the win_ewma_smooth / infostats
rule): per-row/cell integer quantization BEFORE any aggregation,
identically-spelled ln/sqrt chains on both engines, exact-BIGINT
accumulators, `div` (Spark) mirrored by `//` (DuckDB) only on
non-negative operands, floor(CAST AS DOUBLE / n) otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..catalog import load
from ..registry import query
from .infostats import _ACF_DAILY

# ---------------------------------------------------------------------------
# Tukey fences: IQR outlier audit per group
# ---------------------------------------------------------------------------


@query(
    "agg_tukey_fences",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 100.0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    q AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             quantile_cont(cents, 0.25) AS q1_c,
             quantile_cont(cents, 0.75) AS q3_c
      FROM v GROUP BY event_type),
    f AS (
      SELECT event_type, n, q1_c, q3_c,
             q3_c - q1_c AS iqr_c,
             q1_c - 1.5 * (q3_c - q1_c) AS lo,
             q3_c + 1.5 * (q3_c - q1_c) AS hi
      FROM q)
    SELECT f.event_type, f.n, f.q1_c, f.q3_c, f.iqr_c,
           CAST(count(*) FILTER (WHERE v.cents < f.lo) AS BIGINT) AS n_low,
           CAST(count(*) FILTER (WHERE v.cents > f.hi) AS BIGINT) AS n_high,
           CAST((count(*) FILTER (WHERE v.cents < f.lo OR v.cents > f.hi))
                * 1000 // f.n AS BIGINT) AS outlier_milli
    FROM v JOIN f USING (event_type)
    GROUP BY f.event_type, f.n, f.q1_c, f.q3_c, f.iqr_c
    """,
)
def agg_tukey_fences(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey's 1.5-IQR outlier fences per event type - the distribution-
    free outlier audit every ingest QC pass runs next to the parametric
    one (events_anomaly_zscore breaks down when the tail IS the anomaly;
    quartiles don't).  Reports the quartiles, the IQR, and how much mass
    sits outside [q1 - 1.5*IQR, q3 + 1.5*IQR] in integer milli.

    Cross-engine exactness: values quantize to integer cents PER ROW
    first, so the interpolated quartiles (Spark `percentile` = DuckDB
    `quantile_cont`, both (n-1)*p linear interpolation) land on
    quarter-integers - exact binary fractions - and `1.5 * IQR` stays an
    exact multiple of 1/8; every fence comparison is therefore
    bit-deterministic, unlike fences computed on raw doubles.

    Plan: one hash agg for the quartiles (Spark's percentile is a
    single-pass partial-merge aggregate, no global sort), the fence
    frame is |event_types| rows broadcast back onto the fact scan, and
    the outlier counts are one more combinable agg - two scans total,
    both fully pushed down."""
    v = (
        load(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
        )
    )
    q = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile("cents", F.lit(0.25)).alias("q1_c"),
        F.percentile("cents", F.lit(0.75)).alias("q3_c"),
    )
    iqr = F.col("q3_c") - F.col("q1_c")
    f = q.select(
        "event_type",
        "n",
        "q1_c",
        "q3_c",
        iqr.alias("iqr_c"),
        (F.col("q1_c") - 1.5 * iqr).alias("lo"),
        (F.col("q3_c") + 1.5 * iqr).alias("hi"),
    )
    low = (F.col("cents") < F.col("lo")).cast("long")
    high = (F.col("cents") > F.col("hi")).cast("long")
    return (
        v.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "n", "q1_c", "q3_c", "iqr_c")
        .agg(F.sum(low).alias("n_low"), F.sum(high).alias("n_high"))
        .select(
            "event_type",
            "n",
            "q1_c",
            "q3_c",
            "iqr_c",
            "n_low",
            "n_high",
            F.expr("CAST((n_low + n_high) * 1000 div n AS LONG)").alias(
                "outlier_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling (deterministic)
# ---------------------------------------------------------------------------

_WS_K = 20
# 2^48: the md5-derived 12-hex-digit uniform's denominator
_WS_DEN = float(1 << 48)


@query(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) + 0.5) / {_WS_DEN} AS u
      FROM documents WHERE n_chars > 0),
    s AS (
      SELECT doc_id, lang, n_chars,
             CAST(floor(ln(u) / n_chars * 1000000000.0) AS BIGINT) AS key_nano
      FROM w),
    r AS (
      SELECT doc_id, lang, n_chars, key_nano,
             row_number() OVER (PARTITION BY lang
                                ORDER BY key_nano DESC, doc_id) AS rk
      FROM s)
    SELECT doc_id, lang, n_chars, key_nano, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_WS_K}
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement, top-{_WS_K} per language
    stratum (Efraimidis & Spirakis 2006): each row draws key u^(1/w) and
    the k largest keys ARE a weight-proportional sample - the one-pass,
    merge-able spelling of weighted reservoir sampling, which is how a
    100 TB pipeline takes a length-weighted training subsample in one
    scan (each partition keeps its local top-k; tops merge associatively,
    here expressed as one rank window per stratum).  Ranking on
    ln(key) = ln(u)/w is monotone-equivalent and numerically saner.

    Determinism discipline: u derives from md5(doc_id)'s first 48 bits
    (+0.5, over 2^48 - exact binary arithmetic), NOT from an engine RNG,
    so the sample is a pure function of the key (sample_hash_det rule:
    reproducible across engines, re-runs, partitionings); the single
    ln and division are identically spelled both sides and the key is
    floored to integer nano BEFORE ranking, with doc_id tiebreak.

    Plan: map-side key derivation (no shuffle), one rank window
    partitioned by stratum - the same shape as win_rank_topk; at scale
    the window becomes a per-partition top-k + merge via AQE, never a
    global sort of the corpus."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h + 0.5) / F.lit(_WS_DEN)
    s = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.floor(F.log(u) / F.col("n_chars") * 1000000000.0)
        .cast("long")
        .alias("key_nano"),
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("key_nano"), F.asc("doc_id"))
    )
    return (
        s.select("*", rk.alias("rk"))
        .filter(F.col("rk") <= _WS_K)
        .select(
            "doc_id", "lang", "n_chars", "key_nano", F.col("rk").cast("long")
        )
    )


# ---------------------------------------------------------------------------
# shared densified daily grid (the infostats._ACF_DAILY dual)
# ---------------------------------------------------------------------------


def _daily_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Spark dual of infostats._ACF_DAILY: per-type daily dollar series on
    the DENSIFIED calendar grid (zero-fill; a missing day would silently
    misalign every lag - the time_acf_lags rule)."""
    ev = load(spark, sf, "events")
    daily0 = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.floor(F.sum("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents")
    )
    bounds = daily0.groupBy("event_type").agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("d_min", "d_max")).alias("d")
    )
    return grid.join(daily0, ["event_type", "d"], "left").select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.expr("coalesce(cents, 0) div 100").alias("amt"),
    )


_RSI_N = 14


# ---------------------------------------------------------------------------
# RSI momentum (SMA variant) over the daily grid
# ---------------------------------------------------------------------------

_RSI_ORACLE = (
    _ACF_DAILY
    + f""",
    d1 AS (
      SELECT event_type, day, amt,
             amt - lag(amt) OVER (PARTITION BY event_type ORDER BY day)
               AS delta
      FROM daily),
    g AS (
      SELECT event_type, day,
             CAST(sum(greatest(delta, 0)) OVER w AS BIGINT) AS sg,
             CAST(sum(greatest(-delta, 0)) OVER w AS BIGINT) AS sl,
             CAST(count(delta) OVER w AS BIGINT) AS n_delta
      FROM d1
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW))
    SELECT event_type, day, sg, sl,
           CASE WHEN sg + sl > 0
                THEN CAST(sg * 100000 // (sg + sl) AS BIGINT) END AS rsi_milli
    FROM g WHERE n_delta = {_RSI_N}
    """
)


@query("win_rsi_momentum", oracle=_RSI_ORACLE)
def win_rsi_momentum(spark: SparkSession, sf: str) -> DataFrame:
    """Relative Strength Index (Wilder 1978, SMA variant) over each event
    type's daily-dollar series: RSI = 100 * avg_gain / (avg_gain +
    avg_loss) over the last {_RSI_N} day-over-day deltas - the classic
    overbought/oversold momentum gauge, here the monitoring view a
    metrics pipeline derives next to win_bollinger_bands / win_cusum_drift
    (RSI pinned near 100000 milli = a runaway metric, near 0 = collapse).
    The SMA spelling (plain {_RSI_N}-row window means) is used instead of
    Wilder's recursive smoothing because it is window-expressible on both
    engines; the recursion would need the EWMA unroll.

    Exactness: the daily series is integer dollars on the DENSIFIED
    calendar grid (shared infostats._ACF_DAILY spelling - a zero-event
    day must appear as 0, or every delta after it is wrong), deltas /
    gains / losses / window sums are exact BIGINTs, and the final RSI is
    one integer division to milli.  Rows emit only when the window holds
    all {_RSI_N} deltas, so partial-window edges never leak.

    Plan: the grid is |types| x |days| (bounded, never fact-
    proportional); one lag + one framed window over it, zero joins."""
    daily = _daily_grid(spark, sf)
    wo = Window.partitionBy("event_type").orderBy("day")
    d1 = daily.select(
        "event_type",
        "day",
        (F.col("amt") - F.lag("amt").over(wo)).alias("delta"),
    )
    wf = wo.rowsBetween(-(_RSI_N - 1), 0)
    g = d1.select(
        "event_type",
        "day",
        F.sum(F.greatest(F.col("delta"), F.lit(0))).over(wf).alias("sg"),
        F.sum(F.greatest(-F.col("delta"), F.lit(0))).over(wf).alias("sl"),
        F.count("delta").over(wf).alias("n_delta"),
    )
    return g.filter(F.col("n_delta") == _RSI_N).select(
        "event_type",
        "day",
        "sg",
        "sl",
        F.when(
            F.col("sg") + F.col("sl") > 0,
            F.expr("CAST(sg * 100000 div (sg + sl) AS LONG)"),
        ).alias("rsi_milli"),
    )


# ---------------------------------------------------------------------------
# partial autocorrelation via Durbin-Levinson (lags 1..3)
# ---------------------------------------------------------------------------


def _pacf_oracle() -> str:
    lag_cols = ", ".join(
        f"lag(amt, {L}) OVER w AS y{L}" for L in (1, 2, 3)
    )
    arms = " UNION ALL ".join(
        f"SELECT event_type, CAST({L} AS BIGINT) AS lag, amt AS x, y{L} AS y"
        f" FROM l WHERE y{L} IS NOT NULL"
        for L in (1, 2, 3)
    )
    return (
        _ACF_DAILY
        + f""",
    l AS (
      SELECT event_type, day, amt, {lag_cols}
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    p AS ({arms}),
    s AS (
      SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM p GROUP BY 1, 2),
    rr AS (
      SELECT event_type, lag,
             CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)) END AS r
      FROM s),
    piv AS (
      SELECT event_type,
             max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2,
             max(CASE WHEN lag = 3 THEN r END) AS r3
      FROM rr GROUP BY event_type),
    dl AS (
      SELECT event_type, r1, r2, r3,
             CASE WHEN 1.0 - r1 * r1 <> 0.0
                  THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
      FROM piv),
    dl2 AS (
      SELECT event_type, r1, r2, r3, phi22,
             r1 - phi22 * r1 AS phi21
      FROM dl)
    SELECT event_type,
           CAST(floor(r1 * 1000000.0) AS BIGINT) AS pacf1_micro,
           CAST(floor(phi22 * 1000000.0) AS BIGINT) AS pacf2_micro,
           CASE WHEN 1.0 - phi21 * r1 - phi22 * r2 <> 0.0
                THEN CAST(floor((r3 - phi21 * r2 - phi22 * r1)
                                / (1.0 - phi21 * r1 - phi22 * r2)
                                * 1000000.0) AS BIGINT) END AS pacf3_micro
    FROM dl2
    """
    )


@query("time_pacf_lags", oracle=_pacf_oracle())
def time_pacf_lags(spark: SparkSession, sf: str) -> DataFrame:
    """Partial autocorrelation at lags 1..3 via the Durbin-Levinson
    recursion over the lag-1..3 Pearson autocorrelations - the AR-order
    detector that pairs with time_acf_lags: an AR(p) series shows PACF
    cutting off after lag p while ACF tails; together they pick the
    forecasting model (Box & Jenkins).  The recursion unrolls exactly
    (phi11 = r1; phi22 = (r2 - r1^2)/(1 - r1^2); phi33 from the level-2
    coefficients), so 'iterative' costs three scalar expressions.

    r_L uses the pairwise-complete estimator (each lag's Pearson over
    its own valid pairs - the time_acf_lags spelling, restated CTE-for-
    CTE so the two ids cannot drift).  Exactness: all covariance
    accumulators are exact BIGINTs on the integer-dollar densified grid;
    r and the DL chain are pure double +-*/ and one sqrt on identical
    operands - IEEE-deterministic on both engines - floored to micro
    only at the end.  Degenerate variances / zero denominators yield
    NULL on both sides.

    Plan: identical to time_acf_lags (bounded grid window + combinable
    agg to |types| x 3 rows) plus a |types|-row pivot - nothing fact-
    proportional past the first daily agg."""
    daily = _daily_grid(spark, sf)
    wo = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "amt",
        *[F.lag("amt", L).over(wo).alias(f"y{L}") for L in (1, 2, 3)],
    )
    p = lagged.select(
        "event_type",
        F.col("amt").alias("x"),
        F.expr(
            "stack(3, CAST(1 AS BIGINT), y1, CAST(2 AS BIGINT), y2,"
            " CAST(3 AS BIGINT), y3) AS (lag, y)"
        ),
    ).filter(F.col("y").isNotNull())
    s = p.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    rr = s.select(
        "event_type",
        "lag",
        F.when(
            (dx > 0) & (dy > 0),
            num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double")),
        ).alias("r"),
    )
    piv = rr.groupBy("event_type").agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = piv.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        F.when(1.0 - r1 * r1 != 0.0, (r2 - r1 * r1) / (1.0 - r1 * r1)).alias(
            "phi22"
        ),
    )
    phi22 = F.col("phi22")
    dl2 = dl.select(
        "event_type", "r1", "r2", "r3", "phi22", (r1 - phi22 * r1).alias("phi21")
    )
    phi21 = F.col("phi21")
    den3 = 1.0 - phi21 * r1 - phi22 * r2
    return dl2.select(
        "event_type",
        F.floor(r1 * 1000000.0).cast("long").alias("pacf1_micro"),
        F.floor(phi22 * 1000000.0).cast("long").alias("pacf2_micro"),
        F.when(
            den3 != 0.0,
            F.floor((r3 - phi21 * r2 - phi22 * r1) / den3 * 1000000.0).cast(
                "long"
            ),
        ).alias("pacf3_micro"),
    )

# ---------------------------------------------------------------------------
# local clustering coefficient over the supplier co-part projection
# ---------------------------------------------------------------------------

@query(
    "graph_clustering_coeff",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    proj AS (
      SELECT a.p AS p1, b.p AS p2
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT p1 AS v FROM proj UNION ALL SELECT p2 AS v FROM proj)
      GROUP BY v),
    tri3 AS (
      SELECT ab.p1 AS a, ab.p2 AS b, bc.p2 AS c
      FROM proj ab
      JOIN proj bc ON bc.p1 = ab.p2
      JOIN proj ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2),
    tv AS (
      SELECT u.v, CAST(count(*) AS BIGINT) AS tri
      FROM tri3, LATERAL (SELECT unnest([a, b, c]) AS v) u
      GROUP BY u.v),
    cc AS (
      SELECT d.v, d.deg, coalesce(t.tri, 0) AS tri,
             CAST(coalesce(t.tri, 0) * 2000 // (d.deg * (d.deg - 1))
                  AS BIGINT) AS cc_milli
      FROM deg d LEFT JOIN tv t ON t.v = d.v
      WHERE d.deg >= 2)
    SELECT CAST(least(9, deg - 2) AS BIGINT) AS deg_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(tri) AS BIGINT) AS sum_tri,
           CAST(sum(cc_milli) // count(*) AS BIGINT) AS avg_cc_milli,
           CAST(min(cc_milli) AS BIGINT) AS min_cc_milli,
           CAST(max(cc_milli) AS BIGINT) AS max_cc_milli
    FROM cc GROUP BY 1
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficient (Watts & Strogatz 1998) per degree
    bucket over the MARKET-BASKET graph - parts co-ordered in the same
    order with support >= 2 (one shared order is noise; two is signal,
    the agg_market_basket_lift threshold discipline) - the community-
    structure probe next to graph_triangle_count (global count) and
    graph_adamic_adar (link prediction): cc(v) = 2*tri(v) / (deg(v) *
    (deg(v)-1)); high cc at low degree = tight product cliques, low cc
    at high degree = hub-and-spoke.  Degree-<2 nodes are excluded (cc
    undefined; both engines drop identically).  The co-PART projection
    used by the triangle/AA ids is deliberately NOT reused here: the
    fixture's supplier overlap makes it complete (cc identically 1000,
    measured r11), where the support-2 basket graph stays sparse.

    Exactness: per-node triangle credits come from the EDGE-ITERATOR
    (r15, the same kill graph_triangle_count got in r14): for each
    projected edge (a, b), I = N+(a) intersect N+(b) closes exactly the
    ordered triangles (a < b < c); a and b each earn |I| credits and
    every c in I earns 1 (explode), so total credits = 3x triangles with
    NO wedge enumeration - the old ab-bc-ac two-join spelling streamed
    every ordered wedge through the closing join (measured 6.2 s warm at
    sf1; the wedge count of the support-2 basket graph dwarfs its
    triangle count).  Degrees, credits, and cc stay exact BIGINTs, one
    integer division to milli.

    Plan: the per-order pair fan-out is bounded by basket size (~4
    items/order -> 6 pairs), the support filter is a HAVING on the pair
    agg (map-side combinable), and every downstream agg is combinable;
    the bucket report is <= 10 rows.  The projection MATERIALIZES once
    (r14: its consumers each re-ran the order-blocked pair fan-out +
    support agg, the dominant cost a decade up), and under the shared
    broadcast-regime gate (corpus_ops.TRI_BCAST_CAP on total edges AND
    TRI_MAX_DEG_CAP on the widest forward-neighbor array, both scalars
    from one combinable degree agg at build time - same gate as
    graph_triangle_count) the adjacency broadcasts to both edge
    endpoints, so the credit stream never hits an exchange before its
    map-side-combinable sum; past the gate the wedge-enumeration
    shuffle spelling is the 100 TB fallback.  Projection, forward
    adjacency and gate scalars are a deterministic function of lineitem,
    stored per (application, sf) in the artifact store, so repeat
    invocations skip both the build and the gate job (ADVICE r14)."""
    from .corpus_ops import TRI_BCAST_CAP, TRI_MAX_DEG_CAP

    def build() -> tuple[DataFrame, DataFrame, int, int]:
        li = (
            load(spark, sf, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a = li.select("o", F.col("p").alias("p1"))
        b = li.select("o", F.col("p").alias("p2"))
        proj = (
            a.join(b, "o")
            .filter(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.count("*").alias("sup"))
            .filter(F.col("sup") >= 2)
            .select("p1", "p2")
            .localCheckpoint(eager=True)
        )
        # one combinable agg over the checkpointed blocks delivers BOTH
        # gate scalars (sum of forward degrees = total edges, max forward
        # degree = widest broadcast adjacency row), reused by every later
        # invocation
        # the forward adjacency is both the gate source and the
        # edge-iterator's broadcast build side - checkpoint it next to
        # the projection so repeat invocations skip the collect_list agg
        adj = proj.groupBy("p1").agg(
            F.sort_array(F.collect_list("p2")).alias("nbrs")
        ).localCheckpoint(eager=True)
        stats = adj.agg(
            F.sum(F.size("nbrs")).alias("n"),
            F.max(F.size("nbrs")).alias("mx"),
        ).first()
        return proj, adj, int(stats["n"] or 0), int(stats["mx"] or 0)

    proj, adj, n_edges, max_deg = artifacts.memo(spark, sf, "basket_proj", build)
    deg = (
        proj.select(F.col("p1").alias("v"))
        .unionAll(proj.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    if n_edges <= TRI_BCAST_CAP and max_deg <= TRI_MAX_DEG_CAP:
        # edge-iterator credits: per edge (a, b) the forward-neighbor
        # intersection I closes the ordered triangles; a and b earn |I|,
        # each c in I earns 1 - no wedge stream, no closing join
        e = (
            proj.join(
                F.broadcast(
                    adj.select(F.col("p1").alias("u"), F.col("nbrs").alias("nu"))
                ),
                F.col("p1") == F.col("u"),
            )
            .join(
                F.broadcast(
                    adj.select(F.col("p1").alias("w"), F.col("nbrs").alias("nv"))
                ),
                F.col("p2") == F.col("w"),
                "left",  # a p2 with no forward neighbors has empty N+
            )
            .select(
                "p1",
                "p2",
                F.array_intersect(
                    "nu", F.coalesce("nv", F.array().cast("array<bigint>"))
                ).alias("i"),
            )
            .filter(F.size("i") > 0)
        )
        credits = (
            e.select(F.col("p1").alias("v"), F.size("i").alias("c"))
            .unionAll(e.select(F.col("p2").alias("v"), F.size("i").alias("c")))
            .unionAll(e.select(F.explode("i").alias("v"), F.lit(1).alias("c")))
        )
        tv = credits.groupBy("v").agg(F.sum("c").cast("long").alias("tri"))
    else:
        ab = proj.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
        bc = proj.select(F.col("p1").alias("b"), F.col("p2").alias("c"))
        ac = proj.select(F.col("p1").alias("a"), F.col("p2").alias("c"))
        tri3 = ab.join(bc, "b").join(ac, ["a", "c"])
        tv = (
            tri3.select(F.explode(F.array("a", "b", "c")).alias("v"))
            .groupBy("v")
            .agg(F.count("*").alias("tri"))
        )
    cc = (
        deg.filter(F.col("deg") >= 2)
        .join(tv, "v", "left")
        .select(
            "deg",
            F.coalesce(F.col("tri"), F.lit(0)).alias("tri"),
            F.expr(
                "CAST(coalesce(tri, 0) * 2000 div (deg * (deg - 1)) AS LONG)"
            ).alias("cc_milli"),
        )
    )
    return cc.groupBy(
        F.least(F.lit(9), F.col("deg") - 2).cast("long").alias("deg_bucket")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.sum("tri").alias("sum_tri"),
        F.expr("CAST(sum(cc_milli) div count(*) AS LONG)").alias(
            "avg_cc_milli"
        ),
        F.min("cc_milli").alias("min_cc_milli"),
        F.max("cc_milli").alias("max_cc_milli"),
    )


# ---------------------------------------------------------------------------
# coarsened exact matching: stratified treatment-effect table
# ---------------------------------------------------------------------------


@query(
    "events_cem_att",
    oracle="""
    WITH per_ev AS (
      SELECT user_id, event_type,
             CAST(floor(value * 100.0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(count(*) FILTER (WHERE event_type = 'purchase')
                  AS BIGINT) AS purch_cnt,
             CAST(coalesce(sum(cents) FILTER (WHERE event_type = 'purchase'),
                           0) AS BIGINT) AS purch_cents,
             substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2', '3') AS treated
      FROM per_ev GROUP BY user_id),
    cov AS (
      SELECT user_id, treated, purch_cents,
             least(9, (sum_cents // n_events) // 5000) AS cov_spend,
             purch_cnt * 4 // n_events AS cov_mix
      FROM u),
    strata AS (
      SELECT cov_spend, cov_mix,
             CAST(count(*) FILTER (WHERE treated) AS BIGINT) AS n_t,
             CAST(count(*) FILTER (WHERE NOT treated) AS BIGINT) AS n_c,
             CAST(coalesce(sum(purch_cents) FILTER (WHERE treated), 0)
                  AS BIGINT) AS y_t,
             CAST(coalesce(sum(purch_cents) FILTER (WHERE NOT treated), 0)
                  AS BIGINT) AS y_c
      FROM cov GROUP BY 1, 2)
    SELECT CAST(cov_spend AS BIGINT) AS cov_spend,
           CAST(cov_mix AS BIGINT) AS cov_mix, n_t, n_c,
           CAST(y_t * 1000 // n_t - y_c * 1000 // n_c AS BIGINT)
             AS att_millicents
    FROM strata WHERE n_t > 0 AND n_c > 0
    """,
)
def events_cem_att(spark: SparkSession, sf: str) -> DataFrame:
    """Coarsened Exact Matching treatment-effect table (Iacus, King &
    Porro 2012) - the observational-causal complement to the randomized
    tooling (events_abtest_welch / events_cuped_adjustment /
    events_did_analysis): coarsen each user's covariates into discrete
    bins, keep only strata containing BOTH treated and control users,
    and read the effect inside each matched stratum, where treated and
    control are comparable by construction.  Covariates are scale-free
    ratios (mean spend per event, purchase share of activity), so the
    strata keep their meaning as the corpus grows; 'treatment' is a
    deterministic 25% md5 split of users (the sample_hash_det rule -
    the fixture has no real intervention, so the expected ATT is ~0 and
    a nonzero reading calibrates the stratum noise floor).

    Exactness: integer cents per event row, exact BIGINT sums, covariate
    bins and the per-stratum means are integer divisions on non-negative
    operands (`div` = `//`), so every stratum row hashes identically.

    Plan: one per-user combinable agg over the fact stream, map-side
    covariate binning, one |strata|-row agg - the CEM prune (matched
    strata only) is a filter on that bounded frame, never a join."""
    ev = (
        load(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
        )
    )
    is_p = (F.col("event_type") == "purchase").cast("long")
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.sum(is_p).alias("purch_cnt"),
        F.coalesce(F.sum(F.col("cents") * is_p), F.lit(0)).alias(
            "purch_cents"
        ),
    )
    treated = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
        "0", "1", "2", "3"
    )
    cov = u.select(
        "purch_cents",
        treated.alias("treated"),
        F.least(
            F.lit(9), F.expr("(sum_cents div n_events) div 5000")
        ).alias("cov_spend"),
        F.expr("purch_cnt * 4 div n_events").alias("cov_mix"),
    )
    t = F.col("treated").cast("long")
    strata = cov.groupBy("cov_spend", "cov_mix").agg(
        F.sum(t).alias("n_t"),
        F.sum(1 - t).alias("n_c"),
        F.sum(F.col("purch_cents") * t).alias("y_t"),
        F.sum(F.col("purch_cents") * (1 - t)).alias("y_c"),
    )
    return strata.filter((F.col("n_t") > 0) & (F.col("n_c") > 0)).select(
        F.col("cov_spend").cast("long"),
        F.col("cov_mix").cast("long"),
        "n_t",
        "n_c",
        F.expr(
            "CAST(y_t * 1000 div n_t - y_c * 1000 div n_c AS LONG)"
        ).alias("att_millicents"),
    )

# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of the sparse + dense arms
# ---------------------------------------------------------------------------

_RRF_C = 60  # the canonical fusion constant (Cormack et al. 2009)
_RRF_POOL = 50
_RRF_K = 10


def _rrf_oracle() -> str:
    from .llm import _sql_dot

    ev = "(e.embedding::DOUBLE[])"
    cos = (
        f"{_sql_dot(ev, 'a.av')}"
        f" / nullif(sqrt({_sql_dot(ev, ev)})"
        f" * sqrt({_sql_dot('a.av', 'a.av')}), 0.0)"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY doc_id),
    df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len) AS BIGINT) AS sumlen
      FROM dl),
    q AS (
      SELECT DISTINCT token FROM tok WHERE doc_id = 0),
    bm AS (
      SELECT t.doc_id,
             CAST(sum(CAST(floor(
               ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * d.len
                                 / (s.sumlen * 1.0 / s.n_docs)))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micro
      FROM tf t
      JOIN q ON t.token = q.token
      JOIN df f ON f.token = t.token
      JOIN dl d ON d.doc_id = t.doc_id
      CROSS JOIN stats s
      WHERE t.doc_id <> 0
      GROUP BY t.doc_id),
    bpool AS (
      SELECT doc_id, rk_b FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rk_b
        FROM bm)
      WHERE rk_b <= {_RRF_POOL}),
    anch AS (
      SELECT embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id = 0),
    dcos AS (
      SELECT e.vec_id AS doc_id,
             CAST(floor(({cos}) * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
      FROM embeddings e CROSS JOIN anch a
      WHERE e.vec_id <> 0 AND e.embedding IS NOT NULL),
    dpool AS (
      SELECT doc_id, rk_d FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos_micro DESC, doc_id) AS rk_d
        FROM dcos WHERE cos_micro IS NOT NULL)
      WHERE rk_d <= {_RRF_POOL}),
    fused AS (
      SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
             CAST(b.rk_b AS BIGINT) AS rk_bm25,
             CAST(d.rk_d AS BIGINT) AS rk_dense,
             coalesce(1000000000 // ({_RRF_C} + b.rk_b), 0)
               + coalesce(1000000000 // ({_RRF_C} + d.rk_d), 0) AS rrf_nano
      FROM bpool b FULL OUTER JOIN dpool d ON b.doc_id = d.doc_id)
    SELECT doc_id, rk_bm25, rk_dense, CAST(rrf_nano AS BIGINT) AS rrf_nano
    FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT {_RRF_K}
    """


@query("sim_rrf_fusion", oracle=_rrf_oracle())
def sim_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR 2009) of
    the sparse and dense retrieval arms - THE standard hybrid-search
    combiner: BM25 (sim_bm25_topk's scoring, doc 0's tokens as the query)
    and embedding cosine (vec 0 as the query) each nominate a top-{_RRF_POOL}
    pool; a document's fused score is sum over arms of 1/({_RRF_C} + rank),
    which rewards agreement without ever comparing the two arms'
    incomparable score scales.  Top-{_RRF_K} fused docs, with each arm's
    rank kept NULL-able so the output shows WHICH arm found each doc.

    Exactness: ranks are integers over micro-floored per-arm scores with
    doc_id tiebreaks, and each 1/({_RRF_C}+rank) contribution is the exact
    integer 10^9 // ({_RRF_C}+rank) - the whole fusion is BIGINT
    arithmetic; the full outer join keys on doc_id only.

    Plan: the two arms are the already-established linear shapes (BM25's
    inverted-index probe; one broadcast-anchor cosine scan); each pool's
    rank comes from functions.global_rank (range shuffle + prefix
    offsets - the win_ntile discipline, NO Exchange-SinglePartition
    window), and fusion joins two {_RRF_POOL}-row frames - driver-free,
    broadcast-trivial at any scale."""
    from .llm import _cos_or_null

    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    dfr = tf.groupBy("token").agg(F.count("*").alias("df"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("len").alias("sumlen"))
    qd = tok.filter(F.col("doc_id") == 0).select("token").distinct()
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    avglen = F.col("sumlen") * 1.0 / F.col("n_docs")
    sc = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / avglen)
    )
    bm = (
        tf.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qd), "token")
        .join(dfr, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.floor(sc * 1000000.0 + 0.5).alias("s_micro"))
        .groupBy("doc_id")
        .agg(F.sum("s_micro").alias("bm25_micro"))
    )
    from ..functions import global_rank

    bpool = (
        global_rank(
            bm, ["bm25_micro", "doc_id"], out="rk_b", ascending=[False, True]
        )
        .filter(F.col("rk_b") <= _RRF_POOL)
        .select("doc_id", "rk_b")
    )
    e = load(spark, sf, "embeddings")
    anch = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("av"))
    )
    dcos = (
        e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull())
        .crossJoin(anch)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.floor(
                _cos_or_null(F.col("embedding"), F.col("av")) * 1000000.0
                + 0.5
            ).alias("cos_micro"),
        )
        .filter(F.col("cos_micro").isNotNull())
    )
    dpool = (
        global_rank(
            dcos, ["cos_micro", "doc_id"], out="rk_d", ascending=[False, True]
        )
        .filter(F.col("rk_d") <= _RRF_POOL)
        .select("doc_id", "rk_d")
    )
    fused = (
        bpool.withColumnRenamed("doc_id", "b_id")
        .join(
            dpool.withColumnRenamed("doc_id", "d_id"),
            F.col("b_id") == F.col("d_id"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b_id"), F.col("d_id")).alias("doc_id"),
            F.col("rk_b").cast("long").alias("rk_bm25"),
            F.col("rk_d").cast("long").alias("rk_dense"),
            (
                F.coalesce(
                    F.expr(f"1000000000 div ({_RRF_C} + rk_b)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000 div ({_RRF_C} + rk_d)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_nano"),
        )
    )
    return fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(_RRF_K)


# ---------------------------------------------------------------------------
# nDCG audit of int8-quantized retrieval against full-precision ranking
# ---------------------------------------------------------------------------

_NDCG_ANCHORS = 4
_NDCG_K = 10


def _ndcg_oracle() -> str:
    from .llm import _sql_dot

    def cosq(a: str, b: str) -> str:
        return (
            f"{_sql_dot(a, b)} / nullif(sqrt({_sql_dot(a, a)})"
            f" * sqrt({_sql_dot(b, b)}), 0.0)"
        )

    term = (
        "CAST(floor(rel * 1000000.0"
        " / (ln(CAST({rk} + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT)"
    )
    return f"""
    WITH e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL),
    eq AS (
      SELECT vec_id, e,
             -- nullif: a zero-norm vector quantizes to NULL codes (and is
             -- then dropped by the cq IS NOT NULL rank filter) instead of
             -- dividing by zero - the _cos_or_null degenerate-input rule
             list_transform(e, x -> floor(x / nullif(nrm, 0.0) * 127.0
                                          + 0.5)) AS qv
      FROM e0),
    anch AS (
      SELECT vec_id AS a_id, e AS ae, qv AS aq FROM eq
      WHERE vec_id < {_NDCG_ANCHORS}),
    pair AS (
      SELECT a.a_id, c.vec_id,
             {cosq('c.e', 'a.ae')} AS ce,
             {cosq('c.qv', 'a.aq')} AS cq
      FROM eq c JOIN anch a ON c.vec_id <> a.a_id),
    r AS (
      SELECT a_id, vec_id,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY ce DESC, vec_id) AS rk_e,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY cq DESC, vec_id) AS rk_q
      FROM pair WHERE ce IS NOT NULL AND cq IS NOT NULL),
    rel AS (
      SELECT a_id, rk_e, rk_q,
             CASE WHEN rk_e <= {_NDCG_K} THEN {_NDCG_K + 1} - rk_e
                  ELSE 0 END AS rel
      FROM r)
    SELECT a_id,
           CAST(count(*) FILTER (WHERE rk_q <= {_NDCG_K}
                                   AND rk_e <= {_NDCG_K}) AS BIGINT) AS n_hits,
           CAST(coalesce(sum({term.format(rk="rk_q")})
                           FILTER (WHERE rk_q <= {_NDCG_K}), 0)
                AS BIGINT) AS dcg_micro,
           CAST(sum({term.format(rk="rk_e")})
                  FILTER (WHERE rk_e <= {_NDCG_K}) AS BIGINT) AS idcg_micro,
           CAST(coalesce(sum({term.format(rk="rk_q")})
                           FILTER (WHERE rk_q <= {_NDCG_K}), 0) * 1000
                // sum({term.format(rk="rk_e")})
                     FILTER (WHERE rk_e <= {_NDCG_K})
                AS BIGINT) AS ndcg_milli
    FROM rel GROUP BY a_id
    """


@query("sim_ndcg_audit", oracle=_ndcg_oracle())
def sim_ndcg_audit(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@{_NDCG_K} of int8-quantized retrieval against the full-
    precision ranking, for {_NDCG_ANCHORS} fixed anchor queries - the
    rank-QUALITY audit that completes the quantization story:
    sim_embed_quantize produces the codes, sim_ivf_recall_audit /
    sim_matryoshka_recall measure set overlap, and this id measures
    ORDER (recall@k treats rank 1 and rank k the same; nDCG discounts by
    log2(rank+1), which is what a re-ranker's input budget actually
    feels).  Relevance is graded from the exact arm (rank i in the exact
    top-{_NDCG_K} earns {_NDCG_K + 1}-i); the quantized arm is scored by
    where it PLACES those relevant items; idcg comes from the exact arm
    itself, so ndcg_milli = 1000 exactly when quantization preserves the
    top-{_NDCG_K} order.

    Exactness: the quantized cosine needs NO dequantization - scale
    factors cancel, so it is a ratio of exact small-integer dots (the
    sim_embed_quantize code formula, spelled per element identically both
    sides); the exact cosine is the verified 0-ulp fold; each DCG term
    floors to micro BEFORE summing with an identically-spelled
    ln(r+1)/ln(2) chain; the final ratio is one integer division.

    Plan: one O(anchors x N) scoring scan off the broadcast
    {_NDCG_ANCHORS}-row anchor frame (both cosines per row, no second
    pass), two rank windows over that linear frame, and a
    {_NDCG_ANCHORS}-row final agg - the sim_matryoshka_recall shape."""
    from .llm import _dot

    e = (
        load(spark, sf, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )
    eq = e.select(
        "vec_id",
        "e",
        F.transform(
            "e",
            lambda x: F.floor(
                x / F.nullif(F.col("nrm"), F.lit(0.0)) * 127.0 + 0.5
            ),
        ).alias("qv"),
    )
    anch = F.broadcast(
        eq.filter(F.col("vec_id") < _NDCG_ANCHORS).select(
            F.col("vec_id").alias("a_id"),
            F.col("e").alias("ae"),
            F.col("qv").alias("aq"),
        )
    )

    def cos(a, b):
        return _dot(a, b) / F.nullif(
            F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)), F.lit(0.0)
        )

    pair = eq.join(anch, F.col("vec_id") != F.col("a_id")).select(
        "a_id",
        "vec_id",
        cos(F.col("e"), F.col("ae")).alias("ce"),
        cos(F.col("qv"), F.col("aq")).alias("cq"),
    )
    r = pair.filter(
        F.col("ce").isNotNull() & F.col("cq").isNotNull()
    ).select(
        "a_id",
        F.row_number()
        .over(Window.partitionBy("a_id").orderBy(F.desc("ce"), F.asc("vec_id")))
        .alias("rk_e"),
        F.row_number()
        .over(Window.partitionBy("a_id").orderBy(F.desc("cq"), F.asc("vec_id")))
        .alias("rk_q"),
    )
    rel = r.select(
        "a_id",
        "rk_e",
        "rk_q",
        F.when(
            F.col("rk_e") <= _NDCG_K, F.lit(_NDCG_K + 1) - F.col("rk_e")
        )
        .otherwise(0)
        .alias("rel"),
    )

    def term(rk: str):
        return F.floor(
            F.col("rel")
            * 1000000.0
            / (F.log((F.col(rk) + 1).cast("double")) / F.log(F.lit(2.0)))
        ).cast("long")

    hit = (
        (F.col("rk_q") <= _NDCG_K) & (F.col("rk_e") <= _NDCG_K)
    ).cast("long")
    agg = rel.groupBy("a_id").agg(
        F.sum(hit).alias("n_hits"),
        F.coalesce(
            F.sum(F.when(F.col("rk_q") <= _NDCG_K, term("rk_q"))), F.lit(0)
        ).alias("dcg_micro"),
        F.sum(F.when(F.col("rk_e") <= _NDCG_K, term("rk_e"))).alias(
            "idcg_micro"
        ),
    )
    return agg.select(
        "a_id",
        "n_hits",
        "dcg_micro",
        "idcg_micro",
        F.expr("CAST(dcg_micro * 1000 div idcg_micro AS LONG)").alias(
            "ndcg_milli"
        ),
    )

# ---------------------------------------------------------------------------
# stochastic oscillator (%K / %D) over the daily grid
# ---------------------------------------------------------------------------

_STO_N = 14

_STO_ORACLE = (
    _ACF_DAILY
    + f""",
    g AS (
      SELECT event_type, day, amt,
             CAST(min(amt) OVER w AS BIGINT) AS lo14,
             CAST(max(amt) OVER w AS BIGINT) AS hi14,
             CAST(count(*) OVER w AS BIGINT) AS n_win
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_STO_N - 1} PRECEDING AND CURRENT ROW)),
    k AS (
      SELECT event_type, day, lo14, hi14,
             CASE WHEN hi14 > lo14
                  THEN CAST((amt - lo14) * 1000 // (hi14 - lo14) AS BIGINT)
             END AS k_milli
      FROM g WHERE n_win = {_STO_N}),
    d AS (
      SELECT event_type, day, lo14, hi14, k_milli,
             CASE WHEN count(k_milli) OVER w3 = 3
                  THEN CAST(sum(k_milli) OVER w3 // 3 AS BIGINT) END AS d_milli
      FROM k
      WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, lo14, hi14, k_milli, d_milli FROM d
    """
)


@query("win_stochastic_oscillator", oracle=_STO_ORACLE)
def win_stochastic_oscillator(spark: SparkSession, sf: str) -> DataFrame:
    """Stochastic oscillator (Lane's %K/%D) over each event type's daily-
    dollar series: %K = where today sits inside the last {_STO_N} days'
    [low, high] range in integer milli, %D = its 3-day SMA - the range-
    position momentum gauge that completes the monitoring trio with
    win_rsi_momentum (gain/loss balance) and win_bollinger_bands
    (volatility bands): %K pinned near 1000 = repeatedly printing new
    highs, near 0 = hugging the lows.

    Exactness: the integer-dollar densified grid (shared
    infostats._ACF_DAILY spelling) makes min/max/%K pure BIGINT
    arithmetic; a flat window (high = low) yields NULL on both engines;
    %D is an integer division of an exact 3-term sum, emitted only when
    all 3 %K values exist (partial edges never leak, the win_rsi rule).

    Plan: two framed windows over the bounded |types| x |days| grid
    (same partitioning, one sort), zero joins, nothing
    fact-proportional past the daily agg."""
    daily = _daily_grid(spark, sf)
    wo = Window.partitionBy("event_type").orderBy("day")
    wf = wo.rowsBetween(-(_STO_N - 1), 0)
    g = daily.select(
        "event_type",
        "day",
        "amt",
        F.min("amt").over(wf).alias("lo14"),
        F.max("amt").over(wf).alias("hi14"),
        F.count("*").over(wf).alias("n_win"),
    )
    k = g.filter(F.col("n_win") == _STO_N).select(
        "event_type",
        "day",
        "lo14",
        "hi14",
        F.when(
            F.col("hi14") > F.col("lo14"),
            F.expr("CAST((amt - lo14) * 1000 div (hi14 - lo14) AS LONG)"),
        ).alias("k_milli"),
    )
    w3 = wo.rowsBetween(-2, 0)
    return (
        k.withColumn("d_cnt", F.count("k_milli").over(w3))
        .withColumn("d_sum", F.sum("k_milli").over(w3))
        .select(
            "event_type",
            "day",
            "lo14",
            "hi14",
            "k_milli",
            F.when(
                F.col("d_cnt") == 3, F.expr("CAST(d_sum div 3 AS LONG)")
            ).alias("d_milli"),
        )
    )


# ---------------------------------------------------------------------------
# degree assortativity of the market-basket graph
# ---------------------------------------------------------------------------


@query(
    "graph_assortativity",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    proj AS (
      SELECT a.p AS p1, b.p AS p2
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT p1 AS v FROM proj UNION ALL SELECT p2 AS v FROM proj)
      GROUP BY v),
    de AS (
      SELECT d1.deg AS x, d2.deg AS y
      FROM proj e JOIN deg d1 ON d1.v = e.p1 JOIN deg d2 ON d2.v = e.p2
      UNION ALL
      SELECT d2.deg AS x, d1.deg AS y
      FROM proj e JOIN deg d1 ON d1.v = e.p1 JOIN deg d2 ON d2.v = e.p2),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM de)
    SELECT n // 2 AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                                * 1000000.0
                                / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                       * CAST(n * syy - sy * sy AS DOUBLE)))
                     AS BIGINT) END AS assort_micro
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the market-basket graph:
    Pearson correlation of endpoint degrees over the symmetrized edge
    list - positive means hubs link to hubs (social-network shape),
    negative means hubs fan out to leaves (dependency/star shape); with
    graph_clustering_coeff this pins WHERE the basket graph sits between
    clique-soup and hub-and-spoke.  Shares the support->=2 co-order
    projection (one shared spelling, the STL-pair discipline).

    Exactness: degrees are exact counts; the five Pearson accumulators
    run over exact BIGINT degree pairs (symmetrization is a UNION ALL,
    so x/y marginals are identical by construction); one double
    division with an identically-spelled sqrt, floored to micro;
    degenerate (regular-graph) variance yields NULL on both engines.

    Plan: two hash joins decorate edges with endpoint degrees (degree
    frame is |nodes| rows), one combinable agg to a single row - linear
    in edges past the bounded basket fan-out."""
    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("p1"))
    b = li.select("o", F.col("p").alias("p2"))
    proj = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("p1", "p2")
    )
    deg = (
        proj.select(F.col("p1").alias("v"))
        .unionAll(proj.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    d1 = deg.select(F.col("v").alias("p1"), F.col("deg").alias("dx"))
    d2 = deg.select(F.col("v").alias("p2"), F.col("deg").alias("dy"))
    dec = proj.join(d1, "p1").join(d2, "p2")
    de = dec.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        dec.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    s = de.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.crossJoin(F.broadcast(n_nodes)).select(
        F.expr("n div 2").alias("n_edges"),
        "n_nodes",
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(
                num.cast("double")
                * 1000000.0
                / F.sqrt(dx.cast("double") * dy.cast("double"))
            ).cast("long"),
        ).alias("assort_micro"),
    )


# ---------------------------------------------------------------------------
# Cramer's V effect size over the (event_type x value-bucket) table
# ---------------------------------------------------------------------------


@query(
    "agg_cramers_v",
    oracle="""
    WITH c0 AS (
      SELECT event_type AS a,
             least(9, CAST(floor(value / 50.0) AS BIGINT)) AS b
      FROM events WHERE value IS NOT NULL),
    cell0 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS obs
              FROM c0 GROUP BY 1, 2),
    ra AS (SELECT DISTINCT a FROM cell0),
    cb AS (SELECT DISTINCT b FROM cell0),
    -- densify to the full r x c grid: a zero-observed cell still
    -- contributes (0-exp)^2/exp = exp to chi2 (caught by the
    -- independent numpy test - the sparse spelling undercounts)
    cell AS (
      SELECT ra.a, cb.b, coalesce(c.obs, 0) AS obs
      FROM ra CROSS JOIN cb
      LEFT JOIN cell0 c ON c.a = ra.a AND c.b = cb.b),
    m AS (SELECT a, CAST(sum(obs) AS BIGINT) AS row_n FROM cell GROUP BY 1),
    c AS (SELECT b, CAST(sum(obs) AS BIGINT) AS col_n FROM cell GROUP BY 1),
    t AS (SELECT CAST(sum(obs) AS BIGINT) AS total,
                 CAST(count(DISTINCT a) AS BIGINT) AS n_r,
                 CAST(count(DISTINCT b) AS BIGINT) AS n_c
          FROM cell),
    x AS (
      SELECT CAST(floor(
               (cell.obs - m.row_n * c.col_n * 1.0 / t.total)
               * (cell.obs - m.row_n * c.col_n * 1.0 / t.total)
               / (m.row_n * c.col_n * 1.0 / t.total) * 1000000.0)
             AS BIGINT) AS term_micro
      FROM cell JOIN m ON cell.a = m.a JOIN c ON cell.b = c.b CROSS JOIN t)
    SELECT t.n_r, t.n_c, t.total AS n_obs,
           CAST(sum(x.term_micro) AS BIGINT) AS chi2_micro,
           CAST(floor(sqrt(CAST(sum(x.term_micro) AS DOUBLE) / 1000000.0
                           / (t.total * (least(t.n_r, t.n_c) - 1)))
                      * 1000.0) AS BIGINT) AS cramers_v_milli
    FROM x CROSS JOIN t
    GROUP BY t.n_r, t.n_c, t.total
    """,
)
def agg_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    """Cramer's V effect size for the (event_type x value-bucket)
    contingency table - the NORMALIZED companion to
    agg_chi2_independence's raw statistic and agg_mutual_information's
    nats: chi2 grows with n, so at 100 TB every association is
    'significant'; V = sqrt(chi2 / (n*(min(r,c)-1))) in [0,1] is the
    scale-free strength a dataset card can actually threshold (same
    facet pair as the MI id, so the two readings cross-check).

    Exactness: per-cell chi2 terms floor to micro BEFORE the sum (the
    house rule - a raw double sum over cells would be order-dependent),
    with the expected count spelled once and identically on both
    engines; the final V is one sqrt over exact integers floored to
    milli.

    Plan: one map-side bucket + hash agg to the <=|types| x 10 cell
    table, densified to the full r x c grid (a zero-observed cell still
    owes its expected count to chi2 - the sparse spelling undercounts,
    caught by the independent numpy test); marginals and the chi2 fold
    run entirely on that bounded frame (broadcast joins); single-row
    output."""
    ev = load(spark, sf, "events").filter(F.col("value").isNotNull())
    c0 = ev.select(
        F.col("event_type").alias("a"),
        F.least(F.lit(9), F.floor(F.col("value") / 50.0).cast("long")).alias(
            "b"
        ),
    )
    cell0 = c0.groupBy("a", "b").agg(F.count("*").alias("obs"))
    ra = cell0.select("a").distinct()
    cb = cell0.select("b").distinct()
    cell = (
        ra.crossJoin(cb)
        .join(cell0, ["a", "b"], "left")
        .select("a", "b", F.coalesce(F.col("obs"), F.lit(0)).alias("obs"))
    )
    m = cell.groupBy("a").agg(F.sum("obs").alias("row_n"))
    c = cell.groupBy("b").agg(F.sum("obs").alias("col_n"))
    t = cell.agg(
        F.sum("obs").alias("total"),
        F.count_distinct("a").alias("n_r"),
        F.count_distinct("b").alias("n_c"),
    )
    exp = F.col("row_n") * F.col("col_n") * 1.0 / F.col("total")
    x = (
        cell.join(F.broadcast(m), "a")
        .join(F.broadcast(c), "b")
        .crossJoin(F.broadcast(t))
        .select(
            F.floor(
                (F.col("obs") - exp) * (F.col("obs") - exp) / exp * 1000000.0
            )
            .cast("long")
            .alias("term_micro")
        )
    )
    chi2 = x.agg(F.sum("term_micro").alias("chi2_micro"))
    # empty-relation parity: the oracle's final agg is GROUPED (by the
    # t-scalars), so an empty corpus yields ZERO rows there - Spark's
    # ungrouped global aggs would emit one all-NULL row instead
    return chi2.crossJoin(F.broadcast(t)).filter(
        F.col("total").isNotNull()
    ).select(
        "n_r",
        "n_c",
        F.col("total").alias("n_obs"),
        "chi2_micro",
        F.floor(
            F.sqrt(
                F.col("chi2_micro").cast("double")
                / 1000000.0
                / (F.col("total") * (F.least("n_r", "n_c") - 1))
            )
            * 1000.0
        )
        .cast("long")
        .alias("cramers_v_milli"),
    )

# ---------------------------------------------------------------------------
# 5% trimmed mean (rank-based) per group
# ---------------------------------------------------------------------------


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v),
    t AS (
      SELECT event_type, cents, n, n * 5 // 100 AS k
      FROM r WHERE rk > n * 5 // 100 AND rk <= n - n * 5 // 100)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(2 * max(k) AS BIGINT) AS n_trimmed,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(cents) AS BIGINT) AS trimmed_sum_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
    FROM t GROUP BY event_type
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    """5% two-sided trimmed mean per event type - the robust-location
    pair to agg_winsorized_mean: winsorizing CLAMPS the tails to the
    5th/95th percentile values, trimming DROPS the k = floor(0.05*n)
    smallest and largest observations entirely (Tukey's preference when
    the tails are garbage rather than merely extreme - exactly the
    ingest-QC case where a broken client reports value*1000).  The
    difference between the two readings isolates how much of the tail
    mass is structure vs noise.

    Exactness: rank-based trimming (never quantile-threshold: equal
    values straddling the cut would make membership float-fragile);
    ranks are unique via the event_id tiebreak, NULL values are filtered
    BEFORE the window (the r10 rank rule - Spark sorts NULL first,
    DuckDB last), and everything downstream is exact BIGINT with one
    integer division for the mean.

    Plan: one partitioned rank window over the fact scan (the
    win_rank_topk shape - per-group sort, no global exchange), then one
    combinable agg; k derives from the windowed count, no second
    pass."""
    v = (
        load(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    wp = Window.partitionBy("event_type")
    r = v.select(
        "event_type",
        "cents",
        F.row_number()
        .over(wp.orderBy(F.asc("cents"), F.asc("event_id")))
        .alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    t = r.filter(
        (F.col("rk") > F.expr("n * 5 div 100"))
        & (F.col("rk") <= F.col("n") - F.expr("n * 5 div 100"))
    ).select("event_type", "cents", "n", F.expr("n * 5 div 100").alias("k"))
    return t.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (2 * F.max("k")).alias("n_trimmed"),
        F.count("*").alias("n_kept"),
        F.sum("cents").alias("trimmed_sum_cents"),
        F.expr("CAST(sum(cents) div count(*) AS LONG)").alias(
            "trimmed_mean_cents"
        ),
    )

# ---------------------------------------------------------------------------
# geometric mean + AM-GM gap per group
# ---------------------------------------------------------------------------


@query(
    "agg_geometric_mean",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND value > 0),
    l AS (
      SELECT event_type, cents,
             CAST(floor(ln(CAST(cents AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS ln_micro
      FROM v WHERE cents >= 1),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ln_micro) AS BIGINT) AS s,
             CAST(sum(cents) AS BIGINT) AS sc
      FROM l GROUP BY 1)
    SELECT event_type, n,
           CAST(floor(exp(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                          / 1000000.0)) AS BIGINT) AS geo_mean_cents,
           CAST(sc // n AS BIGINT) AS arith_mean_cents,
           CAST(sc // n
                - CAST(floor(exp(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                 / 1000000.0)) AS BIGINT)
                AS BIGINT) AS am_gm_gap_cents
    FROM g
    """,
)
def agg_geometric_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Geometric mean of positive event values per type, with the AM-GM
    gap - the multiplicative location estimate a dataset card reports
    for heavy-tailed metrics (spend, latency, token counts), where the
    arithmetic mean is dominated by the tail: GM = exp(mean ln x) <= AM
    always, and the gap is a unitful skew signal (zero only for a
    constant series) that needs no higher moments.

    Exactness: ln runs on exact integer cents and floors to micro PER
    ROW, so the log-sum is an exact BIGINT (order-independent - the
    house rule; a raw double sum of logs would drift with partitioning);
    the final exp is one identically-spelled double chain on both
    engines (the events_decay_engagement exp precedent), floored to
    whole cents.  Zero/negative values are excluded identically on both
    sides (ln undefined).

    Plan: map-side ln + floor, ONE combinable hash agg carrying the
    log-sum and the plain sum together, |types|-row output - a single
    fact pass, no window, no join."""
    v = (
        load(spark, sf, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select(
            "event_type",
            F.floor(F.col("value") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .filter(F.col("cents") >= 1)
    )
    l_ = v.select(
        "event_type",
        "cents",
        F.floor(F.log(F.col("cents").cast("double")) * 1000000.0)
        .cast("long")
        .alias("ln_micro"),
    )
    g = l_.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("ln_micro").alias("s"),
        F.sum("cents").alias("sc"),
    )
    gm = F.floor(
        F.exp(F.col("s").cast("double") / F.col("n").cast("double") / 1000000.0)
    ).cast("long")
    return g.select(
        "event_type",
        "n",
        gm.alias("geo_mean_cents"),
        F.expr("CAST(sc div n AS LONG)").alias("arith_mean_cents"),
        (F.expr("CAST(sc div n AS LONG)") - gm)
        .cast("long")
        .alias("am_gm_gap_cents"),
    )
