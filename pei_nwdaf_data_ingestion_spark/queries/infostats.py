"""Information-theoretic / statistical diagnostics (round 11).

The measurement layer a 100 TB curation pipeline runs BETWEEN its filters:
association strength between categorical facets (mutual information),
inequality decomposition (Theil), temporal self-similarity (ACF), sequence
predictability (Markov entropy rate / stationary distribution), graph link
prediction (Adamic-Adar), collocation mining (PMI), smoothed-LM scoring
(Kneser-Ney), lexical diversity (segmental TTR), and a privacy-release
demo (Laplace-mechanism plumbing with a deterministic sampler).

House float discipline throughout (the win_ewma_smooth / keyness rule):
every ln/sqrt/exp runs on exact-integer-derived doubles with an
IDENTICALLY-SPELLED operation chain on both engines, each term is floored
to integer micro units PER ROW/CELL before any aggregation, and every
accumulator is an exact BIGINT - so sums are order-independent and the
DuckDB oracle hash-matches under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import gated_broadcast, load
from ..functions import local_frame, pround
from ..registry import query
from .analytics_ops import _CN_PART_CAP

# ---------------------------------------------------------------------------
# mutual information between two categorical facets
# ---------------------------------------------------------------------------

# Fixed-width value buckets (50-unit, capped at bucket 9): a data-independent
# binning, so the cell layout is stable as the corpus grows - an ntile-based
# binning would need a global sort of the fact table just to define the
# buckets.  events.value spans [0, ~500] in the fixtures.
_MI_BUCKET = "least(9, CAST(floor(value / 50.0) AS BIGINT))"


@query(
    "agg_mutual_information",
    oracle=f"""
    WITH c AS (
      SELECT event_type AS a, {_MI_BUCKET} AS b
      FROM events WHERE value IS NOT NULL),
    cell AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
             FROM c GROUP BY 1, 2),
    ma AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM cell GROUP BY 1),
    mb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM cell),
    mi AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(n_ab AS DOUBLE) / n)
               * ln(CAST(n_ab AS DOUBLE) * n
                    / (CAST(n_a AS DOUBLE) * n_b))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS mi_micro
      FROM cell JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot),
    ha AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(n_a AS DOUBLE) / n) * ln(CAST(n_a AS DOUBLE) / n)
               * 1000000.0) AS BIGINT)) AS BIGINT) AS h_a_micro
      FROM ma CROSS JOIN tot),
    hb AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(n_b AS DOUBLE) / n) * ln(CAST(n_b AS DOUBLE) / n)
               * 1000000.0) AS BIGINT)) AS BIGINT) AS h_b_micro
      FROM mb CROSS JOIN tot)
    SELECT tot.n AS n_events, mi.mi_micro, ha.h_a_micro, hb.h_b_micro,
           CASE WHEN ha.h_a_micro > 0 AND hb.h_b_micro > 0 THEN
             CAST(floor(CAST(mi.mi_micro AS DOUBLE) * 1000.0
                        / sqrt(CAST(ha.h_a_micro AS DOUBLE)
                               * hb.h_b_micro)) AS BIGINT)
           END AS nmi_milli
    FROM tot CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def agg_mutual_information(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information (and sqrt-normalized NMI) between event type and
    a fixed-width value bucket - the model-free association screen a
    feature-selection / facet-correlation audit runs before committing to
    a chi-square (agg_chi2_independence tests the NULL; MI measures the
    effect size in nats).  MI = sum_{{a,b}} p(a,b) ln(p(a,b)/(p(a)p(b))).

    Cross-engine exactness: cell/marginal counts are exact BIGINT from
    ONE hash aggregation; each of the <=50 cell terms runs the identical
    double chain (two divisions inside one ln, one multiply) and floors
    to integer micro-nats BEFORE the sum, so the (possibly negative)
    pointwise terms add exactly in any order.  Entropies use the same
    per-row floor over the marginal tables; the NMI division is one
    double op over two exact BIGINTs.

    Plan: one map-side-combinable hash agg of the event stream down to
    <=|types| x 10 cells; every later frame is bounded (cells, marginals,
    scalars) so the joins are broadcast-trivial at any corpus size - the
    fact table is touched exactly once."""
    ev = load(spark, sf, "events").filter(F.col("value").isNotNull())
    c = ev.select(
        F.col("event_type").alias("a"), F.expr(_MI_BUCKET).alias("b")
    )
    cell = c.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    ma = cell.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    mb = cell.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    tot = cell.agg(F.sum("n_ab").alias("n"))
    mi_term = F.floor(
        (F.col("n_ab").cast("double") / F.col("n"))
        * F.log(
            F.col("n_ab").cast("double")
            * F.col("n")
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        * 1000000.0
    ).cast("long")
    mi = (
        cell.join(ma, "a")
        .join(mb, "b")
        .crossJoin(F.broadcast(tot))
        .select(mi_term.alias("t"))
        .agg(F.sum("t").alias("mi_micro"))
    )

    def _h(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        term = F.floor(
            -(F.col(cnt).cast("double") / F.col("n"))
            * F.log(F.col(cnt).cast("double") / F.col("n"))
            * 1000000.0
        ).cast("long")
        return (
            marg.crossJoin(F.broadcast(tot))
            .select(term.alias("t"))
            .agg(F.sum("t").alias(out))
        )

    ha = _h(ma, "n_a", "h_a_micro")
    hb = _h(mb, "n_b", "h_b_micro")
    nmi = F.when(
        (F.col("h_a_micro") > 0) & (F.col("h_b_micro") > 0),
        F.floor(
            F.col("mi_micro").cast("double")
            * 1000.0
            / F.sqrt(F.col("h_a_micro").cast("double") * F.col("h_b_micro"))
        ).cast("long"),
    ).alias("nmi_milli")
    return (
        tot.select(F.col("n").alias("n_events"))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select("n_events", "mi_micro", "h_a_micro", "h_b_micro", nmi)
    )


# ---------------------------------------------------------------------------
# Theil index decomposition (between / within nations)
# ---------------------------------------------------------------------------


@query(
    "agg_theil_decomposition",
    oracle="""
    WITH j AS (
      SELECT n.n_name,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_totalprice IS NOT NULL AND o.o_totalprice > 0),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s FROM j),
    grp AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(cents) AS BIGINT) AS s_g
            FROM j GROUP BY 1),
    tt AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(cents AS DOUBLE) / (CAST(s AS DOUBLE) / n))
               * ln(CAST(cents AS DOUBLE) / (CAST(s AS DOUBLE) / n))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_t
      FROM j CROSS JOIN g),
    tw0 AS (
      SELECT j.n_name,
             CAST(sum(CAST(floor(
               (CAST(cents AS DOUBLE) / (CAST(s_g AS DOUBLE) / n_g))
               * ln(CAST(cents AS DOUBLE) / (CAST(s_g AS DOUBLE) / n_g))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_tg
      FROM j JOIN grp USING (n_name) GROUP BY 1),
    tg AS (
      SELECT grp.n_name,
             CAST(floor(CAST(sum_tg AS DOUBLE) / n_g) AS BIGINT)
               AS t_g_micro,
             grp.s_g
      FROM tw0 JOIN grp USING (n_name)),
    tw AS (
      SELECT CAST(sum(CAST(floor(
               CAST(t_g_micro AS DOUBLE) * s_g / s) AS BIGINT)) AS BIGINT)
               AS t_within
      FROM tg CROSS JOIN g),
    tb AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(s_g AS DOUBLE) / s)
               * ln((CAST(s_g AS DOUBLE) / s) / (CAST(n_g AS DOUBLE) / n))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS t_between
      FROM grp CROSS JOIN g)
    SELECT g.n AS n_orders,
           CAST(floor(CAST(tt.sum_t AS DOUBLE) / g.n) AS BIGINT)
             AS theil_total_micro,
           tb.t_between AS theil_between_micro,
           tw.t_within AS theil_within_micro
    FROM g CROSS JOIN tt CROSS JOIN tw CROSS JOIN tb
    """,
)
def agg_theil_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    """Theil T inequality index of order values, decomposed into
    between-nation and within-nation components - the additive
    complement to agg_gini_concentration (Gini ranks the whole
    distribution but does not decompose; Theil answers "is the
    concentration BETWEEN segments or INSIDE them?", the question a
    curation-balance or revenue-mix audit actually asks).
    T = (1/n) sum (x/mu) ln(x/mu); T_between = sum (s_g/S) ln((s_g/S)/
    (n_g/n)); T_within = sum (s_g/S) T_g.  The decomposition identity
    T = T_b + T_w holds in real arithmetic; the micro-floored components
    here agree with it to within the quantization (reported separately,
    never asserted as an exact identity).

    Cross-engine exactness: per-row cent quantization, exact BIGINT
    group sums; each per-row Theil term runs one identically-spelled
    double chain against mu (resp. mu_g) and floors to micro BEFORE
    summation; the bounded between/within combinations floor per-group.
    x > 0 enforced on both sides (ln needs it; o_totalprice is
    positive-domain anyway).

    Plan: customer rides the catalog broadcast gate (fact-proportional -
    an unconditional hint would pin a multi-GB build side at 100x,
    VERDICT r10), nation broadcasts unconditionally; ONE pass over
    orders computes the per-row terms map-side against a broadcast
    1-row global and a broadcast 25-row group frame; every aggregate is
    combinable.  No window, no sort, no quadratic stage."""
    o = load(spark, sf, "orders").filter(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0)
    )
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    j = (
        o.join(
            gated_broadcast(c.select("c_custkey", "c_nationkey"), sf, "customer"),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select(
            "n_name",
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .localCheckpoint(eager=False)  # one fact scan, three consumers
    )
    g = j.agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
    grp = j.groupBy("n_name").agg(
        F.count("*").alias("n_g"), F.sum("cents").alias("s_g")
    )

    def _term(mean_num: str, mean_den: str):
        mu = F.col(mean_num).cast("double") / F.col(mean_den)
        r = F.col("cents").cast("double") / mu
        return F.floor(r * F.log(r) * 1000000.0).cast("long")

    tt = (
        j.crossJoin(F.broadcast(g))
        .select(_term("s", "n").alias("t"))
        .agg(F.sum("t").alias("sum_t"))
    )
    tw0 = (
        j.join(F.broadcast(grp), "n_name")
        .select("n_name", _term("s_g", "n_g").alias("t"))
        .groupBy("n_name")
        .agg(F.sum("t").alias("sum_tg"))
    )
    tg = tw0.join(F.broadcast(grp), "n_name").select(
        "n_name",
        F.floor(F.col("sum_tg").cast("double") / F.col("n_g"))
        .cast("long")
        .alias("t_g_micro"),
        "s_g",
    )
    tw = (
        tg.crossJoin(F.broadcast(g))
        .select(
            F.floor(
                F.col("t_g_micro").cast("double") * F.col("s_g") / F.col("s")
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("t_within"))
    )
    share = F.col("s_g").cast("double") / F.col("s")
    tb_term = F.floor(
        share
        * F.log(share / (F.col("n_g").cast("double") / F.col("n")))
        * 1000000.0
    ).cast("long")
    tb = (
        grp.crossJoin(F.broadcast(g))
        .select(tb_term.alias("t"))
        .agg(F.sum("t").alias("t_between"))
    )
    return (
        g.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("n").alias("n_orders"),
            F.floor(F.col("sum_t").cast("double") / F.col("n"))
            .cast("long")
            .alias("theil_total_micro"),
            F.col("t_between").alias("theil_between_micro"),
            F.col("t_within").alias("theil_within_micro"),
        )
    )


# ---------------------------------------------------------------------------
# autocorrelation function of the daily event series
# ---------------------------------------------------------------------------

# Shared with the STL chain (analytics_ops._STL_CTES): daily integer cents
# over a DENSIFIED calendar grid, then re-quantized to whole dollars so the
# n*sum(x*y) Pearson accumulators stay far inside BIGINT (daily dollars at
# sf1 ~8e4 -> n*sxy ~1e15 << 2^63; cents would brush the edge at sf1).
_ACF_DAILY = """
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
             coalesce(d0.cents, 0) // 100 AS amt
      FROM grid g LEFT JOIN daily0 d0
        ON g.event_type = d0.event_type AND g.d = d0.d)
"""

_ACF_MAX_LAG = 7


def _acf_union_sql() -> str:
    arms = [
        f"SELECT event_type, CAST({L} AS BIGINT) AS lag, amt AS x, y{L} AS y"
        f" FROM l WHERE y{L} IS NOT NULL"
        for L in range(1, _ACF_MAX_LAG + 1)
    ]
    return " UNION ALL ".join(arms)


@query(
    "time_acf_lags",
    oracle=_ACF_DAILY
    + f""",
    l AS (
      SELECT event_type, day, amt,
             {", ".join(f"lag(amt, {L}) OVER w AS y{L}" for L in range(1, _ACF_MAX_LAG + 1))}
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    p AS ({_acf_union_sql()}),
    s AS (
      SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM p GROUP BY 1, 2)
    SELECT event_type, lag, n_pairs,
           CASE WHEN (n_pairs * sxx - sx * sx) > 0
                 AND (n_pairs * syy - sy * sy) > 0 THEN
             CAST(floor(CAST(n_pairs * sxy - sx * sy AS DOUBLE) * 1000000.0
                        / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                               * CAST(n_pairs * syy - sy * sy AS DOUBLE)))
                  AS BIGINT)
           END AS acf_micro
    FROM s
    """,
)
def time_acf_lags(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation of each event type's daily-value series at lags
    1..7 days - the seasonality detector that DECIDES whether the STL /
    seasonal-naive machinery is worth running (a weekly pattern shows as
    a lag-7 peak; a lag-1 peak alone means momentum, not seasonality).
    Pearson r over (y_t, y_{{t-L}}) pairs on the DENSIFIED calendar grid
    (the _STL_CTES rule: a zero-event day absent from the aggregate
    would silently misalign every lag).

    Cross-engine exactness: the daily series re-quantizes to whole
    dollars so all five Pearson accumulators (sums, squares, cross) are
    exact BIGINT with n*sxy ~1e15 at sf1, far inside 2^63; the single
    r computation is one double division over exact integer covariance
    numerators with an identically-spelled sqrt, floored to micro.
    Degenerate (zero-variance) sides yield NULL on both engines.

    Plan: one map-side daily agg of the fact stream, a bounded per-type
    grid densify, ONE lag window over |days| x |types| rows (bounded,
    never fact-proportional), a 7-arm unpivot of that bounded frame and
    a combinable agg to |types| x 7 rows."""
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
    daily = grid.join(daily0, ["event_type", "d"], "left").select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.expr("coalesce(cents, 0) div 100").alias("amt"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "amt",
        *[F.lag("amt", L).over(w).alias(f"y{L}") for L in range(1, _ACF_MAX_LAG + 1)],
    )
    stack_args = ", ".join(
        f"CAST({L} AS BIGINT), y{L}" for L in range(1, _ACF_MAX_LAG + 1)
    )
    p = lagged.select(
        "event_type",
        F.col("amt").alias("x"),
        F.expr(f"stack({_ACF_MAX_LAG}, {stack_args}) AS (lag, y)"),
    ).filter(F.col("y").isNotNull())
    s = p.groupBy("event_type", "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dx = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(
                num.cast("double")
                * 1000000.0
                / F.sqrt(dx.cast("double") * dy.cast("double"))
            ).cast("long"),
        ).alias("acf_micro"),
    )


# ---------------------------------------------------------------------------
# Markov-chain diagnostics over user journeys
# ---------------------------------------------------------------------------

# Shared transition-count CTE: first-order event-type transitions within
# each user's (ts, event_id)-ordered stream - the events_journey_transitions
# derivation (advanced.py), restated here so the entropy-rate and
# stationary-distribution oracles share one spelling.
_TRANS_CTES = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    tr AS (
      SELECT prev_type AS i, event_type AS j, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    rm AS (SELECT i, CAST(sum(c) AS BIGINT) AS c_i FROM tr GROUP BY 1)
"""


@query(
    "events_entropy_rate",
    oracle=_TRANS_CTES
    + """,
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tr),
    hr AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / c_i)
               * 1000000.0) AS BIGINT)) AS BIGINT) AS h_rate_micro
      FROM tr JOIN rm USING (i) CROSS JOIN tot),
    hm AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(c_i AS DOUBLE) / n) * ln(CAST(c_i AS DOUBLE) / n)
               * 1000000.0) AS BIGINT)) AS BIGINT) AS h_marginal_micro
      FROM rm CROSS JOIN tot),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM rm)
    SELECT tot.n AS n_transitions, ns.n_states,
           hr.h_rate_micro, hm.h_marginal_micro,
           CASE WHEN hm.h_marginal_micro > 0 THEN
             CAST(floor(CAST(hm.h_marginal_micro - hr.h_rate_micro AS DOUBLE)
                        * 1000.0 / hm.h_marginal_micro) AS BIGINT)
           END AS pred_gain_milli
    FROM tot CROSS JOIN ns CROSS JOIN hr CROSS JOIN hm
    """,
)
def events_entropy_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Entropy rate of the first-order user-journey Markov chain:
    H = -sum_ij p(i) p(j|i) ln p(j|i) with the empirical visit weights,
    vs the marginal (order-0) entropy - their gap is how much knowing
    the PREVIOUS event compresses the next one, i.e. whether
    events_journey_transitions' matrix carries real sequential signal
    or the stream is i.i.d. (pred_gain_milli ~ 0).  The go/no-go gate
    in front of any sequence model of the event stream.

    Cross-engine exactness: transition counts are exact BIGINT from one
    window + one hash agg (the journey_transitions spelling, shared CTE
    text); each of the <=K^2 entropy terms floors its identically-
    spelled double chain to micro-nats before the exact sum; the
    predictability-gain ratio is one double division over exact BIGINTs.

    Plan: one per-user lag window over the fact stream (the unavoidable
    shuffle, shared shape with journey_transitions), then everything is
    K^2-bounded: joins and aggregates over <=25-cell frames."""
    seq = load(spark, sf, "events").select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    tr = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # one window pass, three consumers
    )
    rm = tr.groupBy("i").agg(F.sum("c").alias("c_i"))
    tot = tr.agg(F.sum("c").alias("n"))
    hr = (
        tr.join(F.broadcast(rm), "i")
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                -(F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("c").cast("double") / F.col("c_i"))
                * 1000000.0
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("h_rate_micro"))
    )
    hm = (
        rm.crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                -(F.col("c_i").cast("double") / F.col("n"))
                * F.log(F.col("c_i").cast("double") / F.col("n"))
                * 1000000.0
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").alias("h_marginal_micro"))
    )
    ns = rm.agg(F.count("*").alias("n_states"))
    gain = F.when(
        F.col("h_marginal_micro") > 0,
        F.floor(
            (F.col("h_marginal_micro") - F.col("h_rate_micro")).cast("double")
            * 1000.0
            / F.col("h_marginal_micro")
        ).cast("long"),
    ).alias("pred_gain_milli")
    return (
        tot.select(F.col("n").alias("n_transitions"))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hm))
        .select(
            "n_transitions",
            "n_states",
            "h_rate_micro",
            "h_marginal_micro",
            gain,
        )
    )


_MARKOV_ITERS = 12


def _markov_transition(spark: SparkSession, sf: str):
    """(p, states) for the user-journey chain: the micro-quantized
    transition matrix (i, j, p_micro) - localCheckpointed, every
    iteration scans the materialized K^2 frame - and the distinct state
    set.  Shared by the unrolled oracle query and the convergence-gated
    twin so the two spellings cannot drift."""
    seq = load(spark, sf, "events").select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    tr = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count("*").alias("c"))
    )
    rm = tr.groupBy("i").agg(F.sum("c").alias("c_i"))
    p = (
        tr.join(rm, "i")
        .select(
            "i",
            "j",
            F.floor(F.col("c").cast("double") * 1000000.0 / F.col("c_i"))
            .cast("long")
            .alias("p_micro"),
        )
        .localCheckpoint(eager=False)  # reused by all iterations
    )
    states = (
        tr.select(F.col("i").alias("s"))
        .union(tr.select(F.col("j").alias("s")))
        .distinct()
    )
    return p, states


def _markov_pi0(states: DataFrame) -> DataFrame:
    """Uniform start vector in micro units over the state set."""
    k = states.agg(F.count("*").alias("k"))
    return states.crossJoin(F.broadcast(k)).select(
        "s", F.floor(1000000.0 / F.col("k")).cast("long").alias("v")
    )


def _markov_step(pi: DataFrame, p: DataFrame) -> DataFrame:
    """One exact-integer power-iteration step pi' = pi P: per-term
    double multiply + floor (products <= 1e12, exactly representable),
    then an exact BIGINT sum - order-independent, both engines agree.
    Both sides aliased: from iteration 2 on pi's lineage contains p, so
    the join is a self-join Spark can only disambiguate by alias."""
    return (
        pi.alias("pi")
        .join(p.alias("pm"), F.col("pi.s") == F.col("pm.i"))
        .select(
            F.col("pm.j").alias("s"),
            F.floor(
                F.col("pi.v").cast("double") * F.col("pm.p_micro") / 1000000.0
            )
            .cast("long")
            .alias("t"),
        )
        .groupBy("s")
        .agg(F.sum("t").alias("v"))
    )


def markov_stationary_converged(
    spark: SparkSession,
    sf: str,
    eps_micro: int = 16,
    max_iter: int = 100,
):
    """Convergence-gated twin of events_markov_stationary's fixed
    {_MARKOV_ITERS}-step unroll (the graph.pagerank_converged pattern):
    power-iterate pi' = pi P until max |pi' - pi| <= eps_micro or
    max_iter.  The state vector is K <= 25 rows, so the per-round delta
    check is one bounded scalar action.  eps_micro must sit at or above
    the quantization noise floor: the per-term floor loses up to 1 micro
    per transition term, so once the contraction is exhausted the orbit
    settles into a limit CYCLE of amplitude O(K) micro, never an exact
    integer fixpoint (measured on the fixtures: delta collapses 11108 ->
    397 -> 21 in three steps, then oscillates at 3-5 forever) - the
    default 2*K-ish eps of 16 converges in ~4 rounds, eps_micro=0 would
    spin to max_iter and report converged=False, which doubles as the
    eps-too-tight diagnostic.  eps_micro < 0 disables the gate: exactly
    max_iter rounds, bit-equal to the unrolled query at max_iter =
    {_MARKOV_ITERS} (pinned in tests/test_infostats.py)."""
    p, states = _markov_transition(spark, sf)
    pi = _markov_pi0(states).localCheckpoint(eager=False)
    it, converged = 0, False
    while it < max_iter:
        nxt = _markov_step(pi, p).localCheckpoint(eager=False)
        it += 1
        if eps_micro >= 0:
            delta = (
                nxt.join(pi.withColumnRenamed("v", "prev"), "s", "full")
                .select(
                    F.abs(
                        F.coalesce("v", F.lit(0))
                        - F.coalesce("prev", F.lit(0))
                    ).alias("d")
                )
                .agg(F.max("d").alias("mx"))
                .collect()[0]["mx"]
            )
            pi = nxt
            # delta is None iff both vectors are empty (no transitions
            # at all) - a trivial fixpoint, same guard as
            # graph.pagerank_converged's empty-graph case
            if delta is None or delta <= eps_micro:
                converged = True
                break
        else:
            pi = nxt
    return pi, it, converged


def _markov_iter_sql() -> str:
    ctes = []
    prev = "pi0"
    for t in range(1, _MARKOV_ITERS + 1):
        ctes.append(
            f"""it{t} AS (
      SELECT p.j AS s,
             CAST(sum(CAST(floor(CAST({prev}.v AS DOUBLE) * p.p_micro
                                 / 1000000.0) AS BIGINT)) AS BIGINT) AS v
      FROM {prev} JOIN p ON {prev}.s = p.i GROUP BY 1)"""
        )
        prev = f"it{t}"
    return ",\n    ".join(ctes)


@query(
    "events_markov_stationary",
    oracle=_TRANS_CTES
    + f""",
    p AS (
      SELECT tr.i, tr.j,
             CAST(floor(CAST(tr.c AS DOUBLE) * 1000000.0 / rm.c_i)
                  AS BIGINT) AS p_micro
      FROM tr JOIN rm USING (i)),
    states AS (SELECT DISTINCT i AS s FROM tr
               UNION SELECT DISTINCT j FROM tr),
    k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    pi0 AS (SELECT s, CAST(floor(1000000.0 / k) AS BIGINT) AS v
            FROM states CROSS JOIN k),
    {_markov_iter_sql()},
    emp AS (SELECT event_type AS s, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
    SELECT emp.s AS event_type,
           coalesce(it{_MARKOV_ITERS}.v, 0) AS pi_micro,
           CAST(floor(CAST(emp.cnt AS DOUBLE) * 1000000.0 / tot.n)
                AS BIGINT) AS empirical_micro
    FROM emp LEFT JOIN it{_MARKOV_ITERS} ON emp.s = it{_MARKOV_ITERS}.s
    CROSS JOIN tot
    """,
)
def events_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    """Stationary distribution of the user-journey transition matrix via
    {_MARKOV_ITERS} fixed power-iteration steps from uniform, compared
    with the raw empirical visit share - the long-run traffic mix the
    chain converges to if today's transition behavior persists (the
    steady-state load forecast behind capacity planning and the PageRank
    idea restricted to a K-state chain).  A gap between pi and the
    empirical share means the stream is NOT yet stationary.

    Cross-engine exactness: the matrix quantizes to micro-probabilities
    once (exact counts, one double division + floor per cell); each
    iteration multiplies exact BIGINTs through one double op per term
    (products <= 1e12, exactly representable) and floors per term before
    the exact sum, so the whole iteration chain is order-independent
    integer arithmetic - both engines run the identical {_MARKOV_ITERS}
    unrolled steps.  Mass lost to per-term floors (and to states with no
    outgoing transitions) stays lost by design: pi_micro sums to
    slightly under 1e6, documented quantization.

    Plan: ONE per-user lag window over the fact stream; every iteration
    is a join+agg over K^2 <= 25-row frames - bounded driver-free work
    regardless of corpus size (K = |event types|, fixed by the schema,
    not the data volume).

    The {_MARKOV_ITERS}-step unroll exists for static-CTE oracle
    parity; markov_stationary_converged (below) is the production
    `while delta > eps` spelling over the same shared transition
    builder - pytest-pinned bit-equal at the same iteration count."""
    p, states = _markov_transition(spark, sf)
    pi = _markov_pi0(states)
    for _ in range(_MARKOV_ITERS):
        pi = _markov_step(pi, p)
    ev = load(spark, sf, "events")
    emp = ev.groupBy(F.col("event_type").alias("s")).agg(
        F.count("*").alias("cnt")
    )
    tot = ev.agg(F.count("*").alias("n"))
    return (
        emp.join(pi, "s", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("event_type"),
            F.coalesce("v", F.lit(0)).alias("pi_micro"),
            F.floor(F.col("cnt").cast("double") * 1000000.0 / F.col("n"))
            .cast("long")
            .alias("empirical_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pdeg AS (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY p),
    e AS (
      SELECT e0.s, e0.p FROM e0 JOIN pdeg ON e0.p = pdeg.p
      WHERE pdeg.deg BETWEEN 2 AND {_CN_PART_CAP}),
    w AS (
      SELECT p, CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT)
               AS w_micro
      FROM pdeg WHERE deg BETWEEN 2 AND {_CN_PART_CAP}),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(w.w_micro) AS BIGINT) AS aa_micro
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s JOIN w ON w.p = a.p
      GROUP BY 1, 2)
    SELECT s1, s2, n_common, aa_micro
    FROM pairs ORDER BY aa_micro DESC, s1, s2 LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 supplier pairs by Adamic-Adar score over the co-purchase
    graph: AA(u,v) = sum over shared parts z of 1/ln(deg(z)) - the
    link-prediction refinement of graph_common_neighbors' raw Jaccard
    (a part bought by only 3 suppliers is strong evidence the suppliers
    are related; a part bought by 60 says almost nothing - AA downweights
    exactly that, Adamic & Adar 2003).

    Cross-engine exactness: each part's weight floors 1e6/ln(deg) to an
    integer ONCE on the part dim (deg >= 2 guaranteed: a shared neighbor
    has at least 2 edges, so ln > 0), then pair scores are exact BIGINT
    sums of those integers - order-independent; top-20 breaks ties on
    (s1, s2).

    Plan: the graph_common_neighbors candidate discipline verbatim -
    super-node parts (deg > {_CN_PART_CAP}) drop FIRST because each part
    emits deg^2 candidate rows (the df-cap scale guard), pairs generate
    only through the inverted-index equi self-join on part id (never
    all-pairs), the weight table is a part-dim join (broadcast-sized
    relative to the candidate stream at any scale)."""
    li = load(spark, sf, "lineitem")
    e0 = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    pdeg = e0.groupBy("p").agg(F.count("*").alias("deg"))
    keep = pdeg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= _CN_PART_CAP)
    )
    e = e0.join(keep.select("p"), "p").select("s", "p")
    w = keep.select(
        "p",
        F.floor(1000000.0 / F.log(F.col("deg").cast("double")))
        .cast("long")
        .alias("w_micro"),
    )
    a = e.select(F.col("s").alias("s1"), "p")
    b = e.select(F.col("s").alias("s2"), F.col("p").alias("pb"))
    return (
        a.join(b, (F.col("p") == F.col("pb")) & (F.col("s1") < F.col("s2")))
        .join(w, "p")
        .groupBy("s1", "s2")
        .agg(
            F.count("*").alias("n_common"),
            F.sum("w_micro").alias("aa_micro"),
        )
        .orderBy(F.desc("aa_micro"), F.asc("s1"), F.asc("s2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
    g AS (
      SELECT toks[r.i] AS w1, toks[r.i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) r),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
            FROM g GROUP BY 1, 2),
    m1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS nx FROM g GROUP BY 1),
    m2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS ny FROM g GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM g)
    SELECT w1, w2, n12,
           CAST(floor(ln(CAST(n12 AS DOUBLE) * tt
                         / (CAST(nx AS DOUBLE) * ny)) * 1000000.0)
                AS BIGINT) AS pmi_micro
    FROM big JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
    WHERE n12 >= {_PMI_MIN_COUNT}
    ORDER BY pmi_micro DESC, w1, w2 LIMIT 50
    """,
)
def text_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by pointwise mutual
    information: PMI(w1,w2) = ln(p(w1,w2)/(p(w1)p(w2))) with positional
    marginals over the bigram stream - the phrase-mining primitive
    behind tokenizer-vocabulary candidates (which multi-word units
    deserve a single token) and stopword-boundary audits; the min-count
    floor ({_PMI_MIN_COUNT}) is the standard guard against PMI's
    rare-pair bias (Church & Hanks 1990).  Single-space tokenization is
    deliberate parity with text_perplexity_proxy / text_bigram_perplexity
    - all LM-family ops share one gram stream definition.

    Cross-engine exactness: all four count tables are exact BIGINT; the
    PMI is ONE identically-spelled ln over a product/quotient of exact-
    integer-derived doubles, floored to micro per surviving bigram (a
    map-side scalar, no float aggregation anywhere); top-50 breaks ties
    on (w1, w2).

    Plan: ONE bigram explode (localCheckpoint-shared by the bigram table
    and both marginals - the bigram_perplexity discipline); the scoring
    join runs on the vocabulary-bounded BIGRAM TABLE, not the gram
    stream (unlike perplexity, which must score every token, PMI only
    ranks types) - so the post-agg frames are corpus-sublinear and the
    final top-50 is a tiny sort."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    base = d.filter(F.col("text").isNotNull() & (F.size(toks) >= 2)).select(
        toks.alias("tk")
    )
    n1 = F.size("tk") - 1
    pairs = F.zip_with(
        F.slice("tk", 1, n1),
        F.slice("tk", 2, n1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    g = (
        base.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .localCheckpoint(eager=False)  # one explode, four consumers
    )
    big = g.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    m1 = g.groupBy("w1").agg(F.count("*").alias("nx"))
    m2 = g.groupBy("w2").agg(F.count("*").alias("ny"))
    tot = g.agg(F.count("*").alias("tt"))
    pmi = F.floor(
        F.log(
            F.col("n12").cast("double")
            * F.col("tt")
            / (F.col("nx").cast("double") * F.col("ny"))
        )
        * 1000000.0
    ).cast("long")
    return (
        big.filter(F.col("n12") >= _PMI_MIN_COUNT)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n12", pmi.alias("pmi_micro"))
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM perplexity
# ---------------------------------------------------------------------------

_KN_D = 0.75


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
    g AS (
      SELECT doc_id, toks[r.i] AS w1, toks[r.i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) r),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
            FROM g GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1,
                   CAST(count(DISTINCT w2) AS BIGINT) AS n1plus
            FROM g GROUP BY 1),
    cont AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nplus
             FROM g GROUP BY 1),
    ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM big),
    nll AS (
      SELECT g.doc_id,
             CAST(floor(-ln((CAST(big.n12 AS DOUBLE) - {_KN_D}) / ctx.n1
                            + ({_KN_D} * ctx.n1plus / ctx.n1)
                              * (CAST(cont.nplus AS DOUBLE) / ty.n_types))
                        * 1000000.0 + 0.5) AS BIGINT) AS micro_nll
      FROM g
      JOIN big USING (w1, w2)
      JOIN ctx USING (w1)
      JOIN cont USING (w2)
      CROSS JOIN ty)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor((sum(micro_nll) / 1000000.0 / count(*)) * 10000.0 + 0.5)
             / 10000.0 AS avg_nll,
           floor(exp(sum(micro_nll) / 1000000.0 / count(*)) * 100.0 + 0.5)
             / 100.0 AS ppl
    FROM nll GROUP BY doc_id
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document - the
    smoothing upgrade over text_bigram_perplexity's Jelinek-Mercer
    mixture and the method KenLM (CCNet's filter model) actually uses:
    p(w2|w1) = (n12 - D)/n1 + (D * N1+(w1.)/n1) * N1+(.w2)/|bigram types|
    with absolute discount D = {_KN_D}.  The continuation probability
    N1+(.w2) counts how many DISTINCT contexts a word follows - "Francisco"
    is frequent but only ever follows "San", so KN scores it low in novel
    contexts where unigram-backoff JM overrates it (Kneser & Ney 1995,
    Chen & Goodman 1999).  Scoring the training stream itself means every
    scored bigram has n12 >= 1 > D, so the discounted term stays positive.

    Cross-engine exactness: all four model tables are exact BIGINT counts
    (including the two distinct-counts); the mixture is an identically-
    spelled double chain per gram, floored to micro-nats BEFORE the
    per-doc sum (order-independent); avg/ppl are the house
    floor(x*10^k + 0.5) renderings of exact integer sums.

    Plan: ONE bigram explode localCheckpoint-shared by the three model
    aggregations AND the scoring join (the bigram_perplexity discipline);
    distinct-counts run as Spark's two-phase partial aggregation; the
    scoring side is three hash equi-joins on vocabulary-bounded tables
    that AQE broadcast-sizes at fixture scale and shuffle-partitions at
    100 TB."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    base = d.filter(F.col("text").isNotNull() & (F.size(toks) >= 2)).select(
        "doc_id", toks.alias("tk")
    )
    n1 = F.size("tk") - 1
    pairs = F.zip_with(
        F.slice("tk", 1, n1),
        F.slice("tk", 2, n1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    g = (
        base.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .localCheckpoint(eager=False)  # one explode, four consumers
    )
    big = g.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    ctx = g.groupBy("w1").agg(
        F.count("*").alias("n1"),
        F.countDistinct("w2").alias("n1plus"),
    )
    cont = g.groupBy("w2").agg(F.countDistinct("w1").alias("nplus"))
    ty = big.agg(F.count("*").alias("n_types"))
    p_kn = (F.col("n12").cast("double") - F.lit(_KN_D)) / F.col("n1") + (
        F.lit(_KN_D) * F.col("n1plus") / F.col("n1")
    ) * (F.col("nplus").cast("double") / F.col("n_types"))
    micro = F.floor(-F.log(p_kn) * 1000000.0 + F.lit(0.5)).cast("long")
    nll = (
        g.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ty))
        .select("doc_id", micro.alias("micro_nll"))
    )
    avg_nll = F.sum("micro_nll") / F.lit(1e6) / F.count("*")
    return nll.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        pround(avg_nll, 4).alias("avg_nll"),
        pround(F.exp(avg_nll), 2).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# segmental type-token ratio (lexical diversity)
# ---------------------------------------------------------------------------

_STTR_SEG = 50


@query(
    "text_sttr_diversity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL),
    tk AS (
      SELECT doc_id, (r.i - 1) // {_STTR_SEG} AS seg_id, toks[r.i] AS tok
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks) + 1)) AS i) r),
    sc AS (
      SELECT doc_id, seg_id, CAST(count(*) AS BIGINT) AS seg_len,
             CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
      FROM tk GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(seg_len) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(n_distinct * 1000 // seg_len) // count(*) AS BIGINT)
             AS sttr_milli
    FROM sc GROUP BY doc_id
    """,
)
def text_sttr_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Segmental type-token ratio per document: mean TTR over consecutive
    {_STTR_SEG}-token segments - the length-robust lexical-diversity
    score (raw TTR falls mechanically with document length, so comparing
    a tweet to a book with it is meaningless; segmenting first is the
    standard STTR fix).  Low STTR on long segments = templated/boiler-
    plate text, the same signal text_repetition reads at the n-gram
    level.  Whitespace-robust tokenization (the ADVICE-r9 spelling:
    split on [ \\t\\n]+ runs, drop empties).

    Cross-engine exactness: per-segment TTR is exact integer milli
    (n_distinct * 1000 // seg_len, both BIGINT), the per-doc mean is an
    exact integer division of exact sums - no floats anywhere.  The tail
    segment keeps its true (shorter) length on both engines.

    Plan: one posexplode of the token stream with the segment id derived
    map-side from the position, ONE hash agg to (doc, segment) grain
    (distinct-count runs two-phase), one more to doc grain - both
    combinable, keyed on doc_id so they co-partition; no window, no
    sort."""
    d = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    toksc = F.filter(
        F.split("text", "[ \t\n]+"), lambda x: x != F.lit("")
    )
    tk = d.select("doc_id", F.posexplode(toksc).alias("pos", "tok")).select(
        "doc_id",
        F.expr(f"pos div {_STTR_SEG}").alias("seg_id"),
        "tok",
    )
    sc = tk.groupBy("doc_id", "seg_id").agg(
        F.count("*").alias("seg_len"),
        F.countDistinct("tok").alias("n_distinct"),
    )
    return sc.groupBy("doc_id").agg(
        F.sum("seg_len").alias("n_tokens"),
        F.count("*").alias("n_segments"),
        F.expr(
            "CAST(sum(n_distinct * 1000 div seg_len) div count(*) AS LONG)"
        ).alias("sttr_milli"),
    )


# ---------------------------------------------------------------------------
# Laplace-mechanism count release (deterministic sampler)
# ---------------------------------------------------------------------------

# 16^15 = 2^60: the md5-prefix hash space (the minhash universal-hash base).
_DP_SPACE = float(1 << 60)
_DP_EPS = 1.0


@query(
    "pipeline_dp_count_laplace",
    oracle=f"""
    WITH cell AS (
      SELECT event_type,
             strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d')
               AS day,
             CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY 1, 2),
    u AS (
      SELECT event_type, day, true_n,
             (CAST(CAST(('0x' || substr(md5(event_type || '|' || day), 1, 15))
                        AS BIGINT) AS DOUBLE) + 0.5) / {_DP_SPACE!r} AS u01
      FROM cell),
    z AS (
      SELECT event_type, day, true_n,
             CASE WHEN u01 >= 0.5
                  THEN CAST(floor(-ln(2.0 * (1.0 - u01)) / {_DP_EPS!r}
                                  * 1000000.0 + 0.5) AS BIGINT)
                  ELSE CAST(floor(ln(2.0 * u01) / {_DP_EPS!r}
                                  * 1000000.0 + 0.5) AS BIGINT)
             END AS noise_micro
      FROM u)
    SELECT event_type, day, true_n,
           true_n * 1000000 + noise_micro AS noisy_micro,
           abs(noise_micro) AS abs_err_micro
    FROM z
    """,
)
def pipeline_dp_count_laplace(spark: SparkSession, sf: str) -> DataFrame:
    """Laplace-mechanism release of the per-(event_type, day) count
    histogram at epsilon = {_DP_EPS} / sensitivity 1: noise ~ Laplace(1/eps)
    by inverse-CDF (u >= 1/2: -ln(2(1-u))/eps, else ln(2u)/eps) - the
    noisy-counts release every privacy-preserving telemetry dashboard
    ships, with the per-cell utility audit (|noise|) alongside.

    HONESTY NOTE: the sampler here is DETERMINISTIC - u derives from the
    md5 of the cell key (the minhash universal-hash base, first 60 bits
    -> (h + 0.5)/2^60 in (0,1)) so the release is reproducible and
    cross-engine verifiable.  Key-derived noise is NOT differentially
    private (the noise must be secret and fresh per release); this
    operator verifies the MECHANISM's plumbing - binning, sensitivity-1
    counting, inverse-CDF transform, quantized release, utility audit -
    and a production release swaps the u01 column for a CSPRNG draw,
    changing nothing else in the plan.

    Cross-engine exactness: counts are exact BIGINT; the hash -> (0,1)
    map and the inverse CDF are one identically-spelled double chain per
    cell, floored (round-half-up) to micro; the released value is exact
    integer micro arithmetic.

    Plan: one map-side-combinable hash agg of the fact stream to
    |types| x |days| cells; the noise transform is a per-cell scalar on
    the aggregated (bounded) frame - the fact table is scanned once and
    nothing fact-proportional shuffles twice."""
    ev = load(spark, sf, "events")
    cell = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("true_n"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("event_type"), F.lit("|"), F.col("day"))), 1, 15),
        16,
        10,
    ).cast("long")
    u01 = (h.cast("double") + 0.5) / F.lit(_DP_SPACE)
    noise = F.when(
        u01 >= 0.5,
        F.floor(
            -F.log(2.0 * (1.0 - u01)) / F.lit(_DP_EPS) * 1000000.0 + F.lit(0.5)
        ).cast("long"),
    ).otherwise(
        F.floor(
            F.log(2.0 * u01) / F.lit(_DP_EPS) * 1000000.0 + F.lit(0.5)
        ).cast("long")
    )
    z = cell.select("event_type", "day", "true_n", noise.alias("noise_micro"))
    return z.select(
        "event_type",
        "day",
        "true_n",
        (F.col("true_n") * 1000000 + F.col("noise_micro")).alias("noisy_micro"),
        F.abs("noise_micro").alias("abs_err_micro"),
    )


# ---------------------------------------------------------------------------
# delete-a-group jackknife standard error
# ---------------------------------------------------------------------------


@query(
    "agg_jackknife_variance",
    oracle="""
    WITH j AS (
      SELECT n.n_name,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_totalprice IS NOT NULL),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s FROM j),
    grp AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(cents) AS BIGINT) AS s_g
            FROM j GROUP BY 1),
    loo AS (
      SELECT n_name,
             CAST(floor(CAST(s - s_g AS DOUBLE) / (n - n_g)) AS BIGINT)
               AS theta_cents
      FROM grp CROSS JOIN g),
    gg AS (SELECT CAST(count(*) AS BIGINT) AS g_cnt,
                  CAST(sum(theta_cents) AS BIGINT) AS ts FROM loo),
    dev AS (
      SELECT CAST(sum((theta_cents - ts // g_cnt)
                      * (theta_cents - ts // g_cnt)) AS BIGINT) AS ss
      FROM loo CROSS JOIN gg)
    SELECT g.n AS n_orders, gg.g_cnt AS n_groups,
           CAST(floor(CAST(g.s AS DOUBLE) / g.n) AS BIGINT) AS mean_cents,
           CAST(floor(sqrt(CAST(gg.g_cnt - 1 AS DOUBLE) * dev.ss
                           / gg.g_cnt)) AS BIGINT) AS se_jack_cents
    FROM g CROSS JOIN gg CROSS JOIN dev
    """,
)
def agg_jackknife_variance(spark: SparkSession, sf: str) -> DataFrame:
    """Delete-a-group jackknife standard error of the global mean order
    value, leaving out one nation at a time - the model-free uncertainty
    estimate survey statistics and A/B platforms attach to any cluster-
    correlated mean (orders within a nation are not independent, so the
    naive s/sqrt(n) SE is too small; the grouped jackknife prices the
    between-cluster variation in, Shao & Tu 1995).  Pseudo-estimates
    theta_(-g) = (S - s_g)/(n - n_g) over the 25 nation groups, then
    SE = sqrt((G-1)/G * sum (theta_(-g) - theta_bar)^2).

    Cross-engine exactness: group sums are exact BIGINT from one fact
    pass; each leave-one-out mean floors once to integer cents (positive
    domain); the deviation sum of squares is exact BIGINT around the
    integer-floored mean of the 25 pseudo-values (ts // g_cnt, positive
    so DuckDB // == Spark div); one sqrt on the exact integer variance
    numerator.  Quantizing theta to whole cents before squaring keeps
    every accumulator exact at any scale (deviations are cents-sized,
    squares ~1e10 max).

    Plan: customer rides the catalog broadcast gate; ONE fact pass to
    the 25-row group frame, then everything is bounded-frame arithmetic
    (crossJoins of broadcast scalars) - no window, no second scan."""
    o = load(spark, sf, "orders").filter(F.col("o_totalprice").isNotNull())
    c = load(spark, sf, "customer")
    nn = load(spark, sf, "nation")
    j = (
        o.join(
            gated_broadcast(c.select("c_custkey", "c_nationkey"), sf, "customer"),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nn), F.col("c_nationkey") == nn.n_nationkey)
        .select(
            "n_name",
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    g = j.agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
    grp = j.groupBy("n_name").agg(
        F.count("*").alias("n_g"), F.sum("cents").alias("s_g")
    )
    loo = grp.crossJoin(F.broadcast(g)).select(
        F.floor(
            (F.col("s") - F.col("s_g")).cast("double")
            / (F.col("n") - F.col("n_g"))
        )
        .cast("long")
        .alias("theta_cents")
    )
    gg = loo.agg(
        F.count("*").alias("g_cnt"), F.sum("theta_cents").alias("ts")
    )
    dev = (
        loo.crossJoin(F.broadcast(gg))
        .select(
            (
                (F.col("theta_cents") - F.expr("ts div g_cnt"))
                * (F.col("theta_cents") - F.expr("ts div g_cnt"))
            ).alias("d2")
        )
        .agg(F.sum("d2").alias("ss"))
    )
    return (
        g.crossJoin(F.broadcast(gg))
        .crossJoin(F.broadcast(dev))
        .select(
            F.col("n").alias("n_orders"),
            F.col("g_cnt").alias("n_groups"),
            F.floor(F.col("s").cast("double") / F.col("n"))
            .cast("long")
            .alias("mean_cents"),
            F.floor(
                F.sqrt(
                    (F.col("g_cnt") - 1).cast("double")
                    * F.col("ss")
                    / F.col("g_cnt")
                )
            )
            .cast("long")
            .alias("se_jack_cents"),
        )
    )


# ---------------------------------------------------------------------------
# term burstiness (variance-to-mean ratio)
# ---------------------------------------------------------------------------


@query(
    "text_burstiness_vmr",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
    tk AS (
      SELECT doc_id, u.term
      FROM t, LATERAL (SELECT unnest(t.toks) AS term) u),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
           FROM documents WHERE text IS NOT NULL),
    dc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
           FROM tk GROUP BY 1, 2),
    ts AS (SELECT term, CAST(sum(c) AS BIGINT) AS total_count,
                  CAST(count(*) AS BIGINT) AS df,
                  CAST(sum(c * c) AS BIGINT) AS sum_sq
           FROM dc GROUP BY 1)
    SELECT term, total_count, df,
           CAST(floor(CAST(n_docs * sum_sq - total_count * total_count
                           AS DOUBLE) * 1000.0
                      / (CAST(n_docs AS DOUBLE) * total_count))
                AS BIGINT) AS vmr_milli
    FROM ts CROSS JOIN nd
    ORDER BY total_count DESC, term LIMIT 50
    """,
)
def text_burstiness_vmr(spark: SparkSession, sf: str) -> DataFrame:
    """Burstiness of the top-50 corpus terms: variance-to-mean ratio of
    the per-document count, zero-docs included - Church & Gale's (1995)
    dispersion diagnostic.  A Poisson-scattered term (function word) has
    VMR ~ 1; a bursty term (topical content word - absent from most
    docs, repeated where it appears) has VMR >> 1.  The signal that
    separates grammar from topic without any stopword list: it feeds
    stopword discovery (low VMR + high df), keyword extraction (high
    VMR), and template detection (boilerplate tokens show Poisson-flat
    dispersion across a crawl when a real topic word would burst).
    Single-space tokenization is deliberate parity with the LM family's
    shared gram-stream definition (text_perplexity_proxy et al.).

    Cross-engine exactness: VMR = (n*sum(c^2) - (sum c)^2) / (n*sum c)
    entirely from exact BIGINT accumulators (per-doc counts are integers;
    the identity avoids subtracting float means), one double division +
    floor to milli.  At sf1 the largest product is ~1e11, far inside
    2^63; DECIMAL(38) promotion documented beyond sf100.  Top-50 breaks
    ties on term.

    Plan: one token explode, one (term, doc) hash agg (map-side combine
    collapses within-doc repeats before the shuffle), one term-grain
    combinable agg, a broadcast scalar crossJoin, and a vocabulary-
    bounded top-50 - the token stream is shuffled once, on (term,
    doc_id), and nothing fact-proportional is sorted."""
    d = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    tk = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    nd = d.agg(F.count("*").alias("n_docs"))
    dc = tk.groupBy("term", "doc_id").agg(F.count("*").alias("c"))
    ts = dc.groupBy("term").agg(
        F.sum("c").alias("total_count"),
        F.count("*").alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    vmr = F.floor(
        (
            F.col("n_docs") * F.col("sum_sq")
            - F.col("total_count") * F.col("total_count")
        ).cast("double")
        * 1000.0
        / (F.col("n_docs").cast("double") * F.col("total_count"))
    ).cast("long")
    return (
        ts.crossJoin(F.broadcast(nd))
        .select("term", "total_count", "df", vmr.alias("vmr_milli"))
        .orderBy(F.desc("total_count"), F.asc("term"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# iterative proportional fitting (raking) of sample weights
# ---------------------------------------------------------------------------

_IPF_ITERS = 4


def _ipf_iter_sql() -> str:
    """Unrolled IPF: each iteration scales cell weights to the row margin
    (mktsegment) then the column margin (orderpriority)."""
    ctes = []
    prev = "w0"
    for t in range(1, _IPF_ITERS + 1):
        ctes.append(
            f"""r{t} AS (
      SELECT seg, pri, CAST(floor(CAST(w AS DOUBLE)
               * (CAST(r_tgt AS DOUBLE) * 1000000.0 / rowsum)) AS BIGINT) AS w
      FROM (SELECT seg, pri, w,
                   sum(w) OVER (PARTITION BY seg) AS rowsum
            FROM {prev}) x JOIN rt USING (seg)),
    c{t} AS (
      SELECT seg, pri, CAST(floor(CAST(w AS DOUBLE)
               * (CAST(c_tgt AS DOUBLE) * 1000000.0 / colsum)) AS BIGINT) AS w
      FROM (SELECT seg, pri, w,
                   sum(w) OVER (PARTITION BY pri) AS colsum
            FROM r{t}) x JOIN ct USING (pri))"""
        )
        prev = f"c{t}"
    return ",\n    ".join(ctes)


@query(
    "pipeline_ipf_rake",
    oracle=f"""
    WITH pop AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    samp AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS n_sample
      FROM pop WHERE o_orderkey % 10 = 0 GROUP BY 1, 2),
    cells AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS n_pop FROM pop
      GROUP BY 1, 2),
    rt AS (SELECT seg, CAST(sum(n_pop) AS BIGINT) AS r_tgt
           FROM cells GROUP BY 1),
    ct AS (SELECT pri, CAST(sum(n_pop) AS BIGINT) AS c_tgt
           FROM cells GROUP BY 1),
    w0 AS (SELECT seg, pri, n_sample * 1000000 AS w FROM samp
           WHERE n_sample > 0),
    {_ipf_iter_sql()}
    SELECT cells.seg, cells.pri, coalesce(samp.n_sample, 0) AS n_sample,
           cells.n_pop, c{_IPF_ITERS}.w AS w_micro
    FROM cells
    LEFT JOIN samp USING (seg, pri)
    LEFT JOIN c{_IPF_ITERS} USING (seg, pri)
    """,
)
def pipeline_ipf_rake(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative proportional fitting (raking) of a 10% systematic sample's
    (market segment x order priority) cell weights to the full
    population's two marginals - the survey-statistics calibration every
    weighted-sampling pipeline runs so downstream estimates reproduce
    known margins (Deming & Stephan 1940; the same machinery behind
    post-stratified A/B readouts and census-calibrated panels).
    {_IPF_ITERS} unrolled iterations, each scaling rows to the segment
    margin then columns to the priority margin; IPF converges
    geometrically on a dense positive table, so the fitted weights'
    marginal error after {_IPF_ITERS} rounds is far below the micro
    quantum (asserted in pytest).

    Cross-engine exactness: cell counts are exact BIGINT; weights live
    in integer micro-count units, and every scaling step computes the
    factor as ONE double expression (target * 1e6 / current-marginal,
    both from exact BIGINTs) and floors the scaled weight per cell
    BEFORE the next marginal sum - each iteration is order-independent
    integer state, the events_markov_stationary discipline.

    Plan: one fact pass builds both the sample and population cell
    frames (25 cells); the {_IPF_ITERS * 2} scaling steps are windows +
    joins over the 25-row frame - bounded work whatever the corpus size;
    customer rides the catalog broadcast gate."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    pop = o.join(
        gated_broadcast(c.select("c_custkey", "c_mktsegment"), sf, "customer"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
    ).localCheckpoint(eager=False)  # one fact scan, two cell frames
    samp = (
        pop.filter(F.col("o_orderkey") % 10 == 0)
        .groupBy("seg", "pri")
        .agg(F.count("*").alias("n_sample"))
    )
    cells = pop.groupBy("seg", "pri").agg(F.count("*").alias("n_pop"))
    rt = cells.groupBy("seg").agg(F.sum("n_pop").alias("r_tgt"))
    ct = cells.groupBy("pri").agg(F.sum("n_pop").alias("c_tgt"))
    w = samp.filter(F.col("n_sample") > 0).select(
        "seg", "pri", (F.col("n_sample") * 1000000).alias("w")
    )
    for _ in range(_IPF_ITERS):
        rowsum = Window.partitionBy("seg")
        w = (
            w.select("seg", "pri", "w", F.sum("w").over(rowsum).alias("rowsum"))
            .join(F.broadcast(rt), "seg")
            .select(
                "seg",
                "pri",
                F.floor(
                    F.col("w").cast("double")
                    * (
                        F.col("r_tgt").cast("double")
                        * 1000000.0
                        / F.col("rowsum")
                    )
                )
                .cast("long")
                .alias("w"),
            )
        )
        colsum = Window.partitionBy("pri")
        w = (
            w.select("seg", "pri", "w", F.sum("w").over(colsum).alias("colsum"))
            .join(F.broadcast(ct), "pri")
            .select(
                "seg",
                "pri",
                F.floor(
                    F.col("w").cast("double")
                    * (
                        F.col("c_tgt").cast("double")
                        * 1000000.0
                        / F.col("colsum")
                    )
                )
                .cast("long")
                .alias("w"),
            )
        )
    return (
        cells.join(samp, ["seg", "pri"], "left")
        .join(w.withColumnRenamed("w", "w_micro"), ["seg", "pri"], "left")
        .select(
            "seg",
            "pri",
            F.coalesce("n_sample", F.lit(0)).alias("n_sample"),
            "n_pop",
            "w_micro",
        )
    )


# ---------------------------------------------------------------------------
# exponential time-decay engagement score
# ---------------------------------------------------------------------------

_DECAY_HALFLIFE_DIVISOR = 30.0


@query(
    "events_decay_engagement",
    oracle=f"""
    WITH ref AS (
      SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS ref_d FROM events),
    t AS (
      SELECT user_id,
             CAST(floor(CAST(floor(value * 100.0 + 0.5) AS DOUBLE)
                        * exp(-CAST(date_diff('day',
                                    CAST(date_trunc('day', ts) AS DATE),
                                    ref_d) AS DOUBLE)
                              / {_DECAY_HALFLIFE_DIVISOR!r})
                        * 10000.0) AS BIGINT) AS term_micro
      FROM events CROSS JOIN ref
      WHERE value IS NOT NULL)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(term_micro) AS BIGINT) AS score_micro
    FROM t GROUP BY user_id
    ORDER BY score_micro DESC, user_id LIMIT 50
    """,
)
def events_decay_engagement(spark: SparkSession, sf: str) -> DataFrame:
    """Exponential time-decay engagement score per user: each event
    contributes value * exp(-age_days / {_DECAY_HALFLIFE_DIVISOR:g}),
    aged against the corpus's latest event day - the recency-weighted
    activity feature every churn model, ranking signal, and "active
    user" definition actually uses (a raw sum never forgets; a window
    cutoff forgets all at once; exponential decay is the standard
    middle).  Top-50 users by score, user_id tiebreak.

    Cross-engine exactness: per-event cents quantize first (exact
    BIGINT-derived double), the decay factor is one identically-spelled
    exp over an exact integer day difference, and each event's term
    floors to integer micro BEFORE the per-user sum - order-independent.
    The reference day is the data's own max (deterministic), never
    current_timestamp (SURVEY 7.4).

    Plan: one 1-row broadcast (ref day), then a single map-side scalar
    chain per event and ONE combinable per-user hash agg; the top-50 is
    a per-partition heap over the user-grain frame.  Nothing
    fact-proportional is sorted or joined."""
    ev = load(spark, sf, "events")
    ref = ev.agg(
        F.max(F.to_date(F.date_trunc("day", "ts"))).alias("ref_d")
    )
    age = F.datediff(F.col("ref_d"), F.to_date(F.date_trunc("day", "ts")))
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5))
    term = F.floor(
        cents.cast("double")
        * F.exp(-age.cast("double") / F.lit(_DECAY_HALFLIFE_DIVISOR))
        * 10000.0
    ).cast("long")
    return (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(ref))
        .select("user_id", term.alias("term_micro"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("term_micro").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("user_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation recall audit
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)
_MRL_K = 10
_MRL_N_ANCHORS = 8


def _mrl_cos_sql(d: int | None) -> str:
    ev = "e.embedding::DOUBLE[]" if d is None else f"(e.embedding::DOUBLE[])[1:{d}]"
    av = "a.av" if d is None else f"a.av[1:{d}]"
    return (
        f"list_dot_product({ev}, {av})"
        f" / nullif(sqrt(list_dot_product({ev}, {ev}))"
        f" * sqrt(list_dot_product({av}, {av})), 0.0)"
    )


@query(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH anch AS (
      SELECT vec_id AS a_id, embedding::DOUBLE[] AS av FROM embeddings
      WHERE vec_id < {_MRL_N_ANCHORS} AND embedding IS NOT NULL),
    c AS (
      SELECT a.a_id, e.vec_id,
             {_mrl_cos_sql(None)} AS c64,
             {", ".join(f"{_mrl_cos_sql(d)} AS c{d}" for d in _MRL_DIMS)}
      FROM embeddings e JOIN anch a ON e.vec_id <> a.a_id
      WHERE e.embedding IS NOT NULL),
    u AS (
      SELECT a_id, vec_id, CAST(64 AS BIGINT) AS dim, c64 AS cs FROM c
      {" ".join(f"UNION ALL SELECT a_id, vec_id, CAST({d} AS BIGINT), c{d} FROM c" for d in _MRL_DIMS)}),
    r AS (
      SELECT a_id, vec_id, dim,
             row_number() OVER (PARTITION BY a_id, dim
                                ORDER BY cs DESC, vec_id) AS rk
      FROM u WHERE cs IS NOT NULL),
    top AS (SELECT a_id, vec_id, dim FROM r WHERE rk <= {_MRL_K}),
    full10 AS (SELECT a_id, vec_id FROM top WHERE dim = 64),
    ov AS (
      SELECT t.dim, t.a_id, CAST(count(f.vec_id) AS BIGINT) AS n_hit
      FROM top t LEFT JOIN full10 f
        ON t.a_id = f.a_id AND t.vec_id = f.vec_id
      WHERE t.dim <> 64 GROUP BY 1, 2)
    SELECT dim, CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(sum(n_hit) * {1000 // _MRL_K} // count(*) AS BIGINT)
             AS mean_recall_milli,
           CAST(min(n_hit) * {1000 // _MRL_K} AS BIGINT) AS min_recall_milli
    FROM ov GROUP BY dim
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation audit: recall@{_MRL_K} of prefix-truncated
    embeddings (dims {_MRL_DIMS}) against the full-width top-{_MRL_K} for
    {_MRL_N_ANCHORS} fixed anchor queries - the measurement that decides
    how far a Matryoshka-style representation (Kusupati et al. 2022) can
    be cut for the coarse ANN stage before re-ranking at full width:
    ship the smallest dim whose recall clears the budget.  The fixture
    vectors are NOT MRL-trained, so recall here reads as the random-
    projection floor each dim must beat; the operator is the audit
    harness either way (the sim_ivf_recall_audit posture: the engine
    measures its approximations).

    Cross-engine exactness: every cosine is the sequential-fold double
    dot (the verified 0-ulp llm._dot spelling) over the SAME prefix
    slice on both engines (1-based, inclusive, {_MRL_DIMS} and full);
    selection ranks on the unrounded cosine with vec_id tiebreak;
    recall is exact integer milli from hit counts.

    Plan: the anchor frame is CONSTANT-bounded ({_MRL_N_ANCHORS} rows,
    broadcast), so the scoring pass is O(anchors x N) - linear in the
    corpus, one scan computing all four cosines per row; the ranking
    window partitions by (anchor, dim) over that linear frame, and the
    overlap join + final agg run on {_MRL_N_ANCHORS} x {_MRL_K} x 4
    rows."""
    from .llm import _dot

    e = load(spark, sf, "embeddings").filter(F.col("embedding").isNotNull())
    anch = F.broadcast(
        e.filter(F.col("vec_id") < _MRL_N_ANCHORS).select(
            F.col("vec_id").alias("a_id"), F.col("embedding").alias("av")
        )
    )

    def cos(d):
        ev = F.col("embedding") if d is None else F.slice("embedding", 1, d)
        av = F.col("av") if d is None else F.slice("av", 1, d)
        return _dot(ev, av) / F.nullif(
            F.sqrt(_dot(ev, ev)) * F.sqrt(_dot(av, av)), F.lit(0.0)
        )

    c = (
        e.join(anch, F.col("vec_id") != F.col("a_id"))
        .select(
            "a_id",
            "vec_id",
            cos(None).alias("c64"),
            *[cos(d).alias(f"c{d}") for d in _MRL_DIMS],
        )
    )
    stack_args = ", ".join(
        ["CAST(64 AS BIGINT), c64"]
        + [f"CAST({d} AS BIGINT), c{d}" for d in _MRL_DIMS]
    )
    u = c.select(
        "a_id",
        "vec_id",
        F.expr(f"stack({1 + len(_MRL_DIMS)}, {stack_args}) AS (dim, cs)"),
    ).filter(F.col("cs").isNotNull())
    rk = F.row_number().over(
        Window.partitionBy("a_id", "dim").orderBy(
            F.desc("cs"), F.asc("vec_id")
        )
    )
    top = (
        u.select("a_id", "vec_id", "dim", rk.alias("rk"))
        .filter(F.col("rk") <= _MRL_K)
        .select("a_id", "vec_id", "dim")
        .localCheckpoint(eager=False)  # one ranking pass, two consumers
    )
    full10 = top.filter(F.col("dim") == 64).select(
        F.col("a_id").alias("f_a"), F.col("vec_id").alias("f_v")
    )
    ov = (
        top.filter(F.col("dim") != 64)
        .join(
            full10,
            (F.col("a_id") == F.col("f_a")) & (F.col("vec_id") == F.col("f_v")),
            "left",
        )
        .groupBy("dim", "a_id")
        .agg(F.count("f_v").alias("n_hit"))
    )
    per = 1000 // _MRL_K
    return ov.groupBy("dim").agg(
        F.count("*").alias("n_anchors"),
        F.expr(f"CAST(sum(n_hit) * {per} div count(*) AS LONG)").alias(
            "mean_recall_milli"
        ),
        (F.min("n_hit") * per).cast("long").alias("min_recall_milli"),
    )


# ---------------------------------------------------------------------------
# cross-correlation between two event-type daily series
# ---------------------------------------------------------------------------

_XC_A = "click"
_XC_B = "purchase"
_XC_MAX_LAG = 7


def _xc_arm_sql() -> str:
    arms = []
    for L in range(1, _XC_MAX_LAG + 1):
        arms.append(
            f"SELECT CAST({L} AS BIGINT) AS lag, a AS x, bl{L} AS y"
            f" FROM l WHERE bl{L} IS NOT NULL"
        )
        arms.append(
            f"SELECT CAST(-{L} AS BIGINT) AS lag, a AS x, bf{L} AS y"
            f" FROM l WHERE bf{L} IS NOT NULL"
        )
    arms.append("SELECT CAST(0 AS BIGINT) AS lag, a AS x, b AS y FROM l")
    return " UNION ALL ".join(arms)


@query(
    "time_cross_correlation",
    oracle=f"""
    WITH daily0 AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(floor(sum(value) * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('{_XC_A}', '{_XC_B}')
      GROUP BY 1, 2),
    span AS (SELECT min(d) AS d_min, max(d) AS d_max FROM daily0),
    grid AS (
      SELECT CAST(unnest(generate_series(d_min, d_max, INTERVAL 1 DAY))
                  AS DATE) AS d
      FROM span),
    ab AS (
      SELECT g.d,
             coalesce(max(CASE WHEN d0.event_type = '{_XC_A}'
                                THEN d0.cents END), 0) // 100 AS a,
             coalesce(max(CASE WHEN d0.event_type = '{_XC_B}'
                                THEN d0.cents END), 0) // 100 AS b
      FROM grid g LEFT JOIN daily0 d0 ON g.d = d0.d
      GROUP BY g.d),
    l AS (
      SELECT d, a, b,
             {", ".join(f"lag(b, {L}) OVER w AS bl{L}, lead(b, {L}) OVER w AS bf{L}" for L in range(1, _XC_MAX_LAG + 1))}
      FROM ab WINDOW w AS (ORDER BY d)),
    p AS ({_xc_arm_sql()}),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM p GROUP BY 1)
    SELECT lag, n_pairs,
           CASE WHEN (n_pairs * sxx - sx * sx) > 0
                 AND (n_pairs * syy - sy * sy) > 0 THEN
             CAST(floor(CAST(n_pairs * sxy - sx * sy AS DOUBLE) * 1000000.0
                        / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                               * CAST(n_pairs * syy - sy * sy AS DOUBLE)))
                  AS BIGINT)
           END AS xcorr_micro
    FROM s
    """,
)
def time_cross_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-correlation between the '{_XC_A}' and '{_XC_B}' daily-value
    series at lags -{_XC_MAX_LAG}..+{_XC_MAX_LAG}: corr(a_t, b_(t-lag)),
    so a peak at POSITIVE lag means {_XC_B} LEADS {_XC_A} by that many
    days and vice versa - the lead/lag detector behind conversion-delay
    estimation, campaign-effect lag, and any "does X drive Y?" product
    question that a same-day correlation cannot answer.  Lag 0 rides
    along as the contemporaneous baseline.

    Cross-engine exactness: both series share ONE densified calendar
    grid (union span, zero-filled - the time_acf_lags rule: a missing
    day must not silently shift every alignment) and re-quantize to
    whole dollars so all five Pearson accumulators stay exact BIGINT;
    the correlation is one double division over exact integer covariance
    numerators with an identically-spelled sqrt, floored to micro.

    Plan: one filtered map-side daily agg, a bounded grid densify +
    pivot to (day, a, b), then lag ALIGNMENT as a date-key equi join
    against a broadcast 15-row lag frame (b at d-L for lag L) - the
    dense grid makes position offset = date offset, so the join emits
    exactly the pairs a lag/lead window would, WITHOUT the
    Exchange-SinglePartition plan an unpartitioned window forces
    (TestNoGlobalWindow); edge days lose their partner on both
    spellings.  One |days| x 15 bounded frame, combinable agg to 15
    rows.  (The DuckDB oracle keeps the window spelling - the ban is on
    Spark's physical plan, not the SQL dialect.)"""
    ev = load(spark, sf, "events").filter(
        F.col("event_type").isin(_XC_A, _XC_B)
    )
    daily0 = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.floor(F.sum("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents")
    )
    span = daily0.agg(F.min("d").alias("d_min"), F.max("d").alias("d_max"))
    grid = span.select(F.explode(F.sequence("d_min", "d_max")).alias("d"))
    ab = (
        grid.join(daily0, "d", "left")
        .groupBy("d")
        .agg(
            F.expr(
                f"coalesce(max(CASE WHEN event_type = '{_XC_A}'"
                " THEN cents END), 0) div 100"
            ).alias("a"),
            F.expr(
                f"coalesce(max(CASE WHEN event_type = '{_XC_B}'"
                " THEN cents END), 0) div 100"
            ).alias("b"),
        )
    )
    lags = local_frame(
        spark, [(L,) for L in range(-_XC_MAX_LAG, _XC_MAX_LAG + 1)], "lag LONG"
    )
    b_side = ab.select(F.col("d").alias("bd"), F.col("b").alias("y"))
    p = (
        ab.select("d", F.col("a").alias("x"))
        .crossJoin(F.broadcast(lags))
        .join(
            b_side,
            F.expr("bd = date_sub(d, CAST(lag AS INT))"),
        )
        .select("lag", "x", "y")
    )
    s = p.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dx = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "lag",
        "n_pairs",
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(
                num.cast("double")
                * 1000000.0
                / F.sqrt(dx.cast("double") * dy.cast("double"))
            ).cast("long"),
        ).alias("xcorr_micro"),
    )


# ---------------------------------------------------------------------------
# vocabulary coverage curve (tokenizer budget)
# ---------------------------------------------------------------------------

_VOCAB_CUTS = (64, 256, 1024, 4096)


@query(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
    tk AS (SELECT u.term FROM t,
           LATERAL (SELECT unnest(t.toks) AS term) u),
    tf AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
           FROM tk GROUP BY 1),
    tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_terms FROM tf),
    rk AS (
      SELECT freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT)
               AS r,
             CAST(sum(freq) OVER (ORDER BY freq DESC, term
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM tf),
    cuts AS (SELECT CAST(unnest([{", ".join(str(c) for c in _VOCAB_CUTS)}])
                         AS BIGINT) AS vocab_size)
    SELECT c.vocab_size,
           least(c.vocab_size, tot.n_terms) AS n_terms_used,
           CAST(floor(CAST(max(CASE WHEN rk.r <= c.vocab_size
                                    THEN rk.cum ELSE 0 END) AS DOUBLE)
                      * 1000.0 / tot.n_tokens) AS BIGINT)
             AS coverage_milli
    FROM cuts c CROSS JOIN tot CROSS JOIN rk
    GROUP BY c.vocab_size, tot.n_terms, tot.n_tokens
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of the corpus's token
    stream the top-k most frequent terms cover, at tokenizer budgets
    k = {_VOCAB_CUTS} - the first number a tokenizer design reads (it
    bounds the OOV rate any k-entry vocabulary can achieve, the
    corpus-level dual of text_oov_rate's per-doc audit) and the direct
    empirical readout of the Zipf mass concentration text_zipf_slope
    fits parametrically.  Single-space tokenization is deliberate parity
    with the LM family's shared gram-stream definition.

    Cross-engine exactness: term frequencies are exact BIGINT; the
    cumulative mass at each cutoff is an exact running sum read at rank
    k (rank breaks frequency ties on term, so cum-at-k is unique); one
    double division floored to milli per cutoff.

    Plan: one token explode + one hash agg to the vocabulary table; the
    curve only reads ranks <= max(cuts), so the vocabulary table first
    collapses to its global top-{max(_VOCAB_CUTS)} via orderBy+limit
    (TakeOrderedAndProject: per-partition heaps + one merge, no window,
    no full-vocab range shuffle - measured 13x cheaper than ranking the
    whole vocabulary), then functions.global_rank numbers that bounded
    frame (NO Exchange-SinglePartition window, the win_ntile
    discipline); cum-at-k is a plain conditional sum (the running sum
    read at rank k EQUALS the sum of freqs with rank <= k), so the
    curve is a 4-row broadcast crossJoin + one combinable agg."""
    from ..functions import global_rank

    d = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    # the vocabulary table is consumed twice (global totals + the top-k
    # collapse); materialize it once (r14: the token explode + hash agg
    # dominated this query's cost and ran twice - 7.4 -> ~4 s at sf0.1)
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=False)
    )
    tot = tf.agg(
        F.sum("freq").alias("n_tokens"), F.count("*").alias("n_terms")
    )
    top = tf.orderBy(F.desc("freq"), F.asc("term")).limit(max(_VOCAB_CUTS))
    rk = global_rank(
        top, ["freq", "term"], out="r", ascending=[False, True]
    ).select("r", "freq")
    cuts = local_frame(spark, [(c,) for c in _VOCAB_CUTS], "vocab_size LONG")
    # rk leads and the 4-row (cuts x totals) grid is the broadcast build
    # side: a hint on the FIRST crossJoin is consumed by it, so the old
    # chain left the second crossJoin planning as a CartesianProduct of
    # left-partitions x right-partitions trivial tasks (measured: one
    # ~1000-task stage per run, the entire 7.5 s cost of this query at
    # both scales - r14)
    return (
        rk.crossJoin(F.broadcast(cuts.crossJoin(tot)))
        .groupBy("vocab_size", "n_terms", "n_tokens")
        .agg(
            F.sum(
                F.when(F.col("r") <= F.col("vocab_size"), F.col("freq"))
                .otherwise(F.lit(0))
            ).alias("cum_at_k")
        )
        .select(
            "vocab_size",
            F.least(F.col("vocab_size"), F.col("n_terms")).alias(
                "n_terms_used"
            ),
            F.floor(
                F.col("cum_at_k").cast("double") * 1000.0 / F.col("n_tokens")
            )
            .cast("long")
            .alias("coverage_milli"),
        )
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness
# ---------------------------------------------------------------------------


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    contrib AS (
      SELECT DISTINCT user_id, CAST(d + i.i * INTERVAL 1 DAY AS DATE) AS w
      FROM ud, LATERAL (SELECT unnest(range(0, 7)) AS i) i),
    wau AS (SELECT w, CAST(count(*) AS BIGINT) AS wau
            FROM contrib GROUP BY 1)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           dau.dau * 1000 // wau.wau AS stickiness_milli
    FROM dau JOIN wau ON dau.d = wau.w
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per active day - the
    engagement-ratio dashboard line (DAU/WAU ~ how many of the week's
    users come back daily; the metric product teams watch before any
    retention cohort).  WAU for day w counts distinct users active in
    [w-6, w], computed WITHOUT a windowed distinct (Spark has none):
    each (user, day) contributes to the 7 window-ends it can appear in,
    then one distinct count per window-end - the standard explode dual,
    O(7x) map-side fan-out instead of a per-day 7-way self-join.  Days
    with zero activity have no DAU row and are omitted (inner join) on
    both engines.

    Cross-engine exactness: all-integer counts and one integer milli
    division; stickiness <= 1000 by construction (a day-d user is in
    every window ending d..d+6, in particular d's own).

    Plan: one distinct (user, day) - the only fact-sized shuffle; the
    7x explode runs map-side on the DEDUPLICATED user-day frame (far
    smaller than the event stream); two combinable distinct-count aggs
    and a |days|-bounded join."""
    ev = load(spark, sf, "events")
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("w"),
    ).distinct()
    wau = contrib.groupBy("w").agg(F.count("*").alias("wau"))
    return (
        dau.join(wau, dau.d == wau.w)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000 div wau").alias("stickiness_milli"),
        )
    )
