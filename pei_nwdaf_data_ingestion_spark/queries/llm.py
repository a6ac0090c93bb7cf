"""LLM-data-pipeline operators over documents/embeddings (SURVEY.md 2.9,
north-star mandate BASELINE.json:6): deduplication, similarity search,
text analysis, multimodal columns.

Scale design:
- exact dedup = hash-groupBy (map-side partial agg collapses duplicates
  before the shuffle);
- near-dup = blocked pairwise Jaccard here (oracle-checkable) + MinHash-LSH
  banding as the 100TB path (dedup_minhash_lsh, rows-only);
- ANN = brute-force cosine vs broadcast probe as the exact baseline
  (scan-bound, embarrassingly parallel) + LSH-bucketed join as the scale
  path (sim_knn_join, rows-only);
- all vector math is sequential-fold double arithmetic (F.aggregate /
  zip_with) so results are bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..catalog import load
from ..functions import local_frame, pround
from ..registry import query


def _dot(a, b):
    """Sequential-fold double dot product - deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _cos_or_null(a, b):
    """Cosine that degrades to NULL instead of an ANSI DIVIDE_BY_ZERO
    crash when either vector has zero norm: DuckDB's x/0 is NULL, and
    both engines default to NULLS LAST under a DESC sort, so guarded
    cosines stay parity-identical through filters and top-k selection.
    At 100 TB one corrupt zero vector must degrade one row, not kill the
    job (degenerate-embeddings sweep, round 7)."""
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


# corpus-size gate for dedup_ppjoin_prefix's build-side broadcast: below
# this source-file size the prefix index (~2 rows/doc) comfortably fits a
# broadcast; beyond it the join falls back to a shuffled hash/sort-merge
# join on the token key (tests monkeypatch this to force the fallback plan)
_PPJOIN_BROADCAST_BYTES = 256 << 20


# Universal-hash family over ONE md5 base hash per token: h(t) = first 60
# bits of md5(t) mod P, g_i(t) = (A_i * h + B_i) mod P.  One cryptographic
# hash per token however many minhash functions ride on it (the standard
# production trick), and - unlike xxhash64 - bit-identical on any engine
# that has md5, which is what lets dedup_minhash_lsh / dedup_simhash carry
# full DuckDB oracles.  P fits 30 bits so A_i * h stays far inside int64
# on both engines (no overflow-promotion divergence).
_MH_P = 999_999_937
_MH_K = 12
# LSH bands over the _MH_K minhashes (_MH_K // _MH_BANDS rows per band):
# the band0..band3 layout every banded join, oracle and stream shares
_MH_BANDS = 4
# salt width for the banded self-join's hot buckets (see
# _banded_pairs): each bucket's pair space splits into this many
# independent stripes so verification parallelizes even when one signature
# covers half the corpus
_MH_SALTS = 32

# Hot-bucket (stop-band) cap for the LSH candidate joins (VERDICT r7 item
# 3): a band bucket with more than this many members is a boilerplate-
# signature pathology (sf0.1: 2654 of 5000 docs share one signature ->
# 3.5M pairs enumerated AND verified from a single bucket; at 100 TB the
# same happens with license headers / templated pages), and its pair space
# grows QUADRATICALLY while its dedup information is redundant - members
# of a real near-dup cluster still co-occur in their other, colder bands.
# The rule is the stop-word rule: a hot bucket is treated as NOT a match,
# so a pair survives iff at least one of its matching bands is cold, and
# it is verified exactly once, in its lowest COLD matching band.  The
# oracle replays the identical rule, and dedup_lsh_recall_audit MEASURES
# the recall cost against the blocked exact reference.
_MH_BUCKET_CAP = 1024
# below this source size the banded frame broadcasts as the build side
# (shuffle-free probe, even per-doc spread); beyond it the salted shuffle
# join takes over - corpus-proportional state must never pin in every
# executor (the _PPJOIN_BROADCAST_BYTES rationale)
_MH_BROADCAST_BYTES = 256 << 20
_MH_A = [((i + 1) * 1_103_515_245) % _MH_P for i in range(_MH_K)]
_MH_B = [i * 12_345 + 7 for i in range(_MH_K)]


def _base_hash(t):
    """First 60 bits of md5 as a long, reduced mod P (column expr)."""
    return (
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % _MH_P
    )


def _base_hash_sql(t: str) -> str:
    return f"(CAST(('0x' || substr(md5({t}), 1, 15)) AS BIGINT) % {_MH_P})"


def minhash_band_cols() -> list:
    """MinHash band-signature columns band0..band{_MH_BANDS-1} over a
    `tokens` array column - the md5-based universal hash family above,
    array_min as the min-aggregate, bands rendered as joined strings
    (equality-only keys; engine-portable where Spark's hash() is not).
    Pure column expressions (codegen, no UDF); shared by the batch LSH
    join (dedup_minhash_lsh) and the ingest-time streaming dedup
    (stream_minhash_dedup), so both paths bucket identically - the
    property a lambda-architecture corpus pipeline depends on."""
    def _g(i: int):
        # NOTE: must close over i with a ONE-arg lambda - F.transform
        # feeds the element index into any two-arg lambda, so the
        # `lambda t, i=i:` idiom silently receives a Column as i
        return lambda t: (_MH_A[i] * _base_hash(t) + _MH_B[i]) % _MH_P

    mh = [
        F.array_min(F.transform(F.col("tokens"), _g(i)))
        for i in range(_MH_K)
    ]
    rpb = _MH_K // _MH_BANDS
    return [
        F.concat_ws(",", *[m.cast("string") for m in mh[b * rpb : (b + 1) * rpb]]).alias(
            f"band{b}"
        )
        for b in range(_MH_BANDS)
    ]


def _minhash_band_sql(over: str = "tokens") -> str:
    """DuckDB select-list fragment computing band0..band{_MH_BANDS-1} from a
    token-STRING list column named `over` - the exact dual of
    minhash_band_cols."""
    mins = [
        f"list_min(list_transform({over}, t -> ({_MH_A[i]} * "
        f"{_base_hash_sql('t')} + {_MH_B[i]}) % {_MH_P}))"
        for i in range(_MH_K)
    ]
    rpb = _MH_K // _MH_BANDS
    return ", ".join(
        " || ',' || ".join(f"CAST({m} AS VARCHAR)" for m in mins[b * rpb : (b + 1) * rpb])
        + f" AS band{b}"
        for b in range(_MH_BANDS)
    )


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition the probe side of a pairwise join across all cores.

    The fixture tables are single parquet files -> one input split, so
    without this every O(pairs) verification loop runs on ONE core.  At
    production scale the scan arrives already split; the hash repartition
    on the row key is then a cheap no-op-shaped shuffle that still
    guarantees even spread into the pair-verification stage."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism, *keys)


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact content dedup as hash-groupBy: keep the lowest doc_id per
    distinct text (deterministic survivor), report copy counts.  At 100TB
    you group on md5/sha of the content, never the content itself - the
    hash is the shuffle key here too."""
    d = load(spark, sf, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    ).select(F.md5("text").alias("content_hash"), "keep_doc_id", "n_copies")


@query(
    "dedup_near_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS tokens
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor((CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tokens, b.tokens)))) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.8
    """,
)
def dedup_near_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup detection: token-set Jaccard >= 0.8 within (lang, source)
    blocks.  Blocking bounds the pairwise quadratic to per-block cardinality
    (the classic candidate-generation step); the unblocked scale paths are
    dedup_minhash_lsh (probabilistic) or PPJoin prefix filtering (lossless,
    but an inverted token index degenerates on this fixture's 31-token
    vocabulary - measured 10x slower than blocked pairwise here).

    Per-pair cost is halved losslessly: |a UNION b| = n_a + n_b - |a INT b|
    (inclusion-exclusion - one array scan per pair, not two), and the
    size-ratio prune jaccard <= min(n)/max(n) sits in the join condition so
    pairs that can't reach the threshold never run the intersect at all."""
    t = 0.8
    d = load(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split("text", " ")).alias("tokens"),
    ).withColumn("n_tok", F.size("tokens"))
    a = _spread(toks, "doc_id").alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tokens"), F.col("b.tokens"))).cast("double")
    union = F.col("a.n_tok") + F.col("b.n_tok") - inter
    jac = inter / union
    ratio_ok = (F.col("a.n_tok") >= t * F.col("b.n_tok")) & (
        F.col("b.n_tok") >= t * F.col("a.n_tok")
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok,
        )
        .filter(jac >= t)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            pround(jac, 4).alias("jaccard"),
        )
    )


@query(
    "dedup_ppjoin_prefix",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor((CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tokens, b.tokens)))) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.95
    """,
)
def dedup_ppjoin_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """LOSSLESS near-dup via PPJoin-style prefix filtering (Xiao et al.,
    WWW'08) - the exact alternative when blocked-pairwise degenerates
    (one (lang,source) block dominating) and MinHash's false negatives are
    unacceptable.  Because the filter is lossless, the oracle is simply the
    UNBLOCKED all-pairs Jaccard >= t query - candidate generation cannot
    change the answer, only the work.  t = 0.95 (near-identical docs): the
    tighter threshold keeps prefixes short (n - ceil(t*n) + 1 = 2 tokens at
    this corpus' ~23-token docs), which is where prefix filtering earns its
    keep; looser thresholds on this 31-token-vocabulary fixture degenerate
    the index toward all-pairs (see dedup_near_jaccard's docstring).

    Plan: global token frequencies (vocab-sized agg, broadcast back) ->
    each doc's tokens ordered rarest-first -> prefix of length
    n - ceil(t*n) + 1 (any pair with J >= t must share a prefix token -
    pigeonhole on the common total order) -> inverted index = posexplode
    the prefixes, self-join on token with id-order + size-ratio prune +
    POSITIONAL filter -> distinct candidates -> exact Jaccard verify.
    Every stage is a hash shuffle on token or doc_id; no all-pairs stage
    anywhere.

    The positional filter is what makes this PPJoin rather than AllPairs
    (Xiao et al. section 3): a pair sharing a prefix token at (1-indexed)
    positions i, j can overlap at most min(na-i, nb-j)+1 tokens, so require
    that bound >= ceil(t*(na+nb)/(1+t)) (the overlap J >= t demands) inside
    the join condition.  On this fixture's 31-token vocabulary the plain
    prefix index degenerates (one prefix token covers 75% of docs -> 3.4M
    candidates from 5k docs); the positional bound at t=0.95 forces the
    shared token to sit at the FRONT of both prefixes, collapsing
    candidates by ~40x - the filter carries the plan where the index
    alone cannot.

    Tokens travel as xxhash64 values (see the comment below).  A 64-bit
    collision between two distinct tokens of one pair would merge them,
    shift that pair's intersect/union sizes and so its Jaccard; against
    the string-based DuckDB oracle it shows as a driver parity mismatch,
    not as a silently wrong answer.  The sf0.01 parity tests cannot
    exercise that case: the fixture's 31-token vocabulary has no
    colliding pair."""
    t = 0.95
    d = load(spark, sf, "documents")
    # r16 (guide 2.3, narrower types): the whole pipeline runs on xxhash64
    # TOKEN HASHES, not strings - the _minhash_signatures discipline.  The
    # distinct-token sets map 1:1 to distinct-hash sets absent a collision
    # inside one pair's <= 2x|doc|-token union (p < 1e-15 per pair, the
    # standard production trade), so every verified Jaccard is unchanged
    # while (a) array_intersect probes a primitive long array instead of
    # hashing strings per candidate (the 18M-candidate verify at sf1 is
    # this query's wall), and (b) the freq join + regroup shuffle carries
    # 8-byte longs instead of strings.  The rarest-first order becomes
    # (df, hash) - prefix filtering is lossless under ANY common total
    # order (pigeonhole needs only that both docs sort the same way).
    toks = d.select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split("text", " ")), lambda tk: F.xxhash64(tk)
        ).alias("tokens"),
    ).withColumn("n_tok", F.size("tokens"))
    # global rarest-first order: (document frequency, token hash) ascending
    freq = (
        toks.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    ordered = (
        toks.select("doc_id", "n_tok", F.explode("tokens").alias("token"))
        .join(F.broadcast(freq), "token")
        .groupBy("doc_id", "n_tok")
        .agg(F.array_sort(F.collect_list(F.struct("df", "token"))).alias("ord"))
    )
    prefix_len = (F.col("n_tok") - F.ceil(F.col("n_tok") * F.lit(t)) + 1).cast("int")
    # the index row CARRIES the token array: at ~prefix_len (= 2 here) rows
    # per doc the duplication is bounded by the prefix length, and having
    # the arrays inside the join stage means the candidate pairs are
    # generated, position-filtered, AND Jaccard-verified within one task -
    # only true matches ever leave the stage (the previous spelling
    # shuffled every candidate through a distinct plus two array joins:
    # 19 s vs ~2 s at sf0.1 for the same 190k-pair answer).  The carried
    # array is ord.token itself - the SAME token set in rarest-first order
    # (r15: the old spelling joined back to `toks` on doc_id just to fetch
    # the original-order array, one whole extra shuffle of the corpus
    # tokens; array_intersect is order-insensitive, so the verified
    # Jaccard is bit-identical either way).
    inv = ordered.select(
        "doc_id",
        "n_tok",
        F.col("ord.token").alias("tokens"),
        F.posexplode(
            F.slice(F.col("ord.token"), F.lit(1), prefix_len)
        ).alias("pos0", "token"),
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    # the probe and broadcast branches would otherwise each rebuild the
    # whole index pipeline (freq agg + rarest-first sort + explode, ~0.6 s
    # at sf0.1); a lazy localCheckpoint materializes it once for both
    inv = inv.localCheckpoint(eager=False)
    pa, pb = _spread(inv, "doc_id").alias("pa"), inv.alias("pb")
    ratio_ok = (F.col("pa.n_tok") >= t * F.col("pb.n_tok")) & (
        F.col("pb.n_tok") >= t * F.col("pa.n_tok")
    )
    # PPJoin positional filter: overlap upper bound from the match positions
    # must reach the overlap the Jaccard threshold demands
    alpha = F.ceil(
        F.lit(t) * (F.col("pa.n_tok") + F.col("pb.n_tok")) / F.lit(1.0 + t)
    )
    ubound = (
        F.least(
            F.col("pa.n_tok") - F.col("pa.pos"), F.col("pb.n_tok") - F.col("pb.pos")
        )
        + 1
    )
    inter = F.size(
        F.array_intersect(F.col("pa.tokens"), F.col("pb.tokens"))
    ).cast("double")
    jac = inter / (F.col("pa.n_tok") + F.col("pb.n_tok") - inter)
    # Build-side strategy is SIZE-GATED (VERDICT r3 #5): the prefix index
    # is prefix_len (~2) rows per doc - small, but CORPUS-PROPORTIONAL, so
    # unconditionally broadcasting it would ship (and pin in every
    # executor) an index that grows with the data.  Below the gate,
    # broadcast wins: candidate pairs are enumerated, position-filtered
    # and verified inside the probe task with no shuffle at all.  Beyond
    # it, the plain equi-join on `token` lets Catalyst pick a shuffled
    # hash/sort-merge join - both sides hash-partition on the token, which
    # scales to any corpus and is still never a cartesian (asserted in
    # tests/test_plan_quality.py).
    build = pb
    if os.path.getsize(os.path.join(sf, "documents.parquet")) < _PPJOIN_BROADCAST_BYTES:
        build = F.broadcast(pb)
    return (
        # The verify (jac) is LAST in the AND chain: predicates evaluate
        # left-to-right, so the cheap length/position prunes run before any
        # array_intersect (a separate .filter(jac) got merged FIRST into
        # the residual and made every candidate pay the intersect -
        # measured 42 s vs 2 s).
        pa.join(
            build,
            (F.col("pa.token") == F.col("pb.token"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & ratio_ok
            & (ubound >= alpha)
            & (jac >= t),
        )
        # a pair can match on both prefix tokens: dedup the (small) survivor
        # set, never the candidate set
        .groupBy(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .agg(F.first(pround(jac, 4)).alias("jaccard"))
    )


def _mh_cand_ctes() -> str:
    """DuckDB `hot0..hot3, cand` CTE text over a `banded` (doc_id,
    band0..band3) CTE: the lowest-cold-band candidates plus the hot
    buckets' star candidates (the rule is on minhash_verified_pairs_ctes).
    One generator for the LSH pair chain and dedup_lsh_recall_audit's
    oracle, which recomputes the same pair set."""
    hot_ctes = ",\n    ".join(
        f"hot{b} AS (SELECT band{b} AS s FROM banded "
        f"GROUP BY band{b} HAVING count(*) > {_MH_BUCKET_CAP})"
        for b in range(_MH_BANDS)
    )
    cand_unions = "\n      UNION\n      ".join(
        f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM banded x "
        f"JOIN banded y ON x.band{b} = y.band{b} AND x.doc_id < y.doc_id "
        f"WHERE x.band{b} NOT IN (SELECT s FROM hot{b})"
        for b in range(_MH_BANDS)
    )
    star_unions = "\n      UNION\n      ".join(
        f"SELECT doc_a, doc_b FROM ("
        f"SELECT min(doc_id) OVER (PARTITION BY band{b}) AS doc_a,"
        f" doc_id AS doc_b "
        f"FROM banded WHERE band{b} IN (SELECT s FROM hot{b})) "
        f"WHERE doc_a <> doc_b"
        for b in range(_MH_BANDS)
    )
    return (
        f"{hot_ctes},\n    cand AS (\n      "
        f"{cand_unions}\n      UNION\n      {star_unions})"
    )


def minhash_verified_pairs_ctes() -> str:
    """Shared DuckDB CTE chain `toks -> hk -> banded -> cand -> vpairs`:
    the MinHash-banded candidate pairs, Jaccard-VERIFIED at 0.8
    (vpairs carries doc_a, doc_b, jac).  One text, three consumers - the
    LSH oracle itself plus the LSH-fed clustering oracles
    (dedup_cluster_components / dedup_canonical_select), so the oracles
    provably fix the SAME edge set the Spark path generates.

    Band signatures stay on the md5 universal hash family over token
    STRINGS (the engine-portable signature contract); the verify
    intersect runs on DuckDB-hash()ed token lists - Jaccard only reads
    SET SIZES, which hashing preserves absent a collision inside one
    pair's union (the same negligible-probability trade the Spark side
    makes with xxhash64; measured 154 s -> 88 s for the sf0.1 oracle).
    vpairs is MATERIALIZED: the clustering oracles reference it three
    times (edges / m / redge) and DuckDB would otherwise inline - i.e.
    re-run - the whole candidate+verify pipeline per reference.

    Hot-bucket stop-band rule (round 8): a band bucket with more than
    _MH_BUCKET_CAP members does not generate pairwise candidates - the
    hot{b} CTEs replay the Spark side's rule exactly, and because
    cand is a set UNION over bands, "lowest cold matching band" and "any
    cold matching band" fix the same pair set.  Hot buckets instead
    contribute STAR candidates (bucket-min -> member), which keep
    boilerplate clusters connected at linear cost AND arrive at the
    clustering fixpoint pre-converged; the set UNION absorbs star pairs
    that also cold-match."""
    return f"""toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
      FROM documents),
    hk AS (
      SELECT doc_id, tokens, list_transform(tokens, tk -> hash(tk)) AS th
      FROM toks),
    banded AS (
      SELECT doc_id, {_minhash_band_sql()}
      FROM hk),
    {_mh_cand_ctes()},
    vpairs AS MATERIALIZED (
      SELECT * FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(a.th, b.th)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.th, b.th))) AS jac
        FROM cand c
        JOIN hk a ON a.doc_id = c.doc_a
        JOIN hk b ON b.doc_id = c.doc_b)
      WHERE jac >= 0.8)"""


def _minhash_lsh_oracle() -> str:
    return f"""
    WITH {minhash_verified_pairs_ctes()}
    SELECT doc_a, doc_b,
           floor(jac * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM vpairs
    """


def _minhash_verified_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The MinHash-banded, Jaccard-VERIFIED pair set (doc_a, doc_b, jac) -
    shared by the pair-listing query (dedup_minhash_lsh) and the LSH-fed
    clustering (dedup_cluster_components / dedup_canonical_select).  The
    build is deterministic, so the checkpointed frame is stored per
    (application, sf) in the artifact store: the near-dup pair index of a
    corpus is computed once and reused by every downstream dedup step in
    any real pipeline.  The candidate+verify join is _banded_pairs (the
    design notes live there) over every document's signature."""
    return artifacts.memo(
        spark, sf, "minhash_pairs",
        lambda: _minhash_pairs_plan(spark, sf).localCheckpoint(eager=False),
    )


def _minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """The shared per-document signature frame (doc_id, th, n_tok,
    band0..band3) - exactly _banded_pairs' input columns: distinct-token
    xxhash64 arrays + the 4-band md5 minhash family (minhash_band_cols),
    checkpointed once per (application, sf) in the artifact store.  The
    _MH_K-hash family is the dominant cost of BOTH dedup_minhash_lsh (all
    docs) and dedup_two_stage (unique-text reps - a subset, since
    signatures depend only on text), so one deterministic frame serves
    both (VERDICT r14 item 5).
    Verification runs on 64-bit token hashes, not the strings: the
    distinct-token sets map 1:1 to distinct-hash sets absent an xxhash64
    collision inside one pair's <=2x|doc|-token union (p < 1e-15 per
    pair - the standard production trade), so jac is unchanged while
    array_intersect works a primitive long array instead of hashing
    strings per probe; the index rows also shrink, which matters for
    the broadcast regime."""

    def build() -> DataFrame:
        d = load(spark, sf, "documents")
        toks = d.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
        )
        return toks.select(
            "doc_id",
            F.transform("tokens", lambda tk: F.xxhash64(tk)).alias("th"),
            F.size("tokens").alias("n_tok"),
            *minhash_band_cols(),
        ).localCheckpoint(eager=False)

    return artifacts.memo(spark, sf, "minhash_sig", build)


def _minhash_pairs_plan(spark: SparkSession, sf: str) -> DataFrame:
    """dedup_minhash_lsh's un-checkpointed candidate+verify plan:
    _banded_pairs over every document's signature.  Split out so plan
    tests can assert the join regimes - the cached wrapper replaces the
    subtree with an RDD scan."""
    return _banded_pairs(_minhash_signatures(spark, sf), sf)


def _banded_pairs(banded: DataFrame, sf: str, carry: tuple = ()) -> DataFrame:
    """The MinHash banded self-join - candidates AND Jaccard verification
    at 0.8 - behind both dedup_minhash_lsh (every document) and
    dedup_two_stage (one representative per exact-text group).  `banded`
    is (doc_id, th, n_tok, band0..band3, *carry); the result is (doc_a,
    doc_b, jac, <c>_a, <c>_b for each carried column c) with doc_a <
    doc_b.  `sf` only sizes the join regime (the documents file).

    Plan (the index-carrying spelling, same lesson as dedup_ppjoin_prefix):
    the banded frame CARRIES the token arrays into four per-band
    self-joins, so candidate generation, cross-band dedup and Jaccard
    verification all happen inside the join tasks - nothing but true
    matches ever leaves the stage.  Cross-band dedup is done with
    PREDICATES, not a shuffle: band b's join also requires band{b'} to
    DIFFER for every b' < b, so each candidate pair is verified exactly
    once, in its lowest matching band (equivalent to the old
    union+distinct+re-join spelling, minus a 15M-row distinct and two
    7.7M-row token joins at sf0.1).  The jac predicate sits LAST in the
    AND chain so the cheap band/id/size checks prune before any
    array_intersect.  The banded frame is localCheckpoint-materialized
    once and probed by all eight join branches.

    On clique-heavy corpora one band bucket can dominate (sf0.1: 2654 of
    5000 docs share a signature -> 3.5M of the band's pairs are generated
    AND verified by the ONE task owning that join key).  AQE's skew-join
    split cannot help: it detects oversized INPUT partitions, and a
    quadratic self-join explodes tiny inputs into huge outputs.  So the
    join runs in two size-gated regimes (the dedup_ppjoin_prefix posture):
    below _MH_BROADCAST_BYTES the banded frame BROADCASTS as the build
    side, so every probe task enumerates + verifies its own rows' pairs
    with no shuffle at all and parallelism = the probe partitioning
    (per-doc triangular spread); beyond the gate the probe side fans each
    row out to _MH_SALTS sub-keys against build-side pmod(doc_id,
    _MH_SALTS), making (band, salt) the join key - a hot bucket's pair
    space slices into _MH_SALTS independent stripes regardless of the
    shuffle width.  Probe-side duplication is |corpus| x _MH_SALTS rows -
    linear, the price of even verification spread, exactly the salting
    posture join_skew_salted pins for facts."""
    t = 0.8
    bands = [f"band{b}" for b in range(_MH_BANDS)]

    def carried(pa: str, pb: str) -> list:
        # <c>_a / <c>_b for each carried column, read off the two sides
        return [
            F.col(f"{p}{c}").alias(f"{c}_{s}")
            for c in carry
            for p, s in ((pa, "a"), (pb, "b"))
        ]

    broadcast_build = (
        os.path.getsize(os.path.join(sf, "documents.parquet")) < _MH_BROADCAST_BYTES
    )
    banded = banded.select(
        "doc_id",
        "th",
        "n_tok",
        F.pmod("doc_id", F.lit(_MH_SALTS)).cast("int").alias("salt"),
        *bands,
        *carry,
    )
    # hot-bucket flags (_MH_BUCKET_CAP): ONE exploded aggregation finds
    # every over-cap (band, signature) bucket - bounded by |corpus|/cap
    # entries regardless of scale - then a single tiny probe job decides
    # whether the cap machinery is needed at all.  Clean corpora (no hot
    # bucket: every fixture at sf<=0.01) keep the literal-false flags,
    # which Catalyst constant-folds back to the uncapped plan - the rule
    # costs one small job, zero extra stages, unless the pathology is
    # actually present.
    hot = (
        banded.select(
            F.posexplode(F.array(*[F.col(c) for c in bands])).alias(
                "bidx", "sig"
            )
        )
        .groupBy("bidx", "sig")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > _MH_BUCKET_CAP)
        .select("bidx", "sig")
        .localCheckpoint(eager=False)
    )
    have_hot = bool(hot.limit(1).take(1))
    if have_hot:
        for b in range(_MH_BANDS):
            hot_b = hot.filter(F.col("bidx") == b).select(
                F.col("sig").alias(f"band{b}"), F.lit(True).alias(f"_hot{b}")
            )
            banded = banded.join(F.broadcast(hot_b), f"band{b}", "left")
        flag_cols = [
            F.coalesce(F.col(f"_hot{b}"), F.lit(False)).alias(f"hot{b}")
            for b in range(_MH_BANDS)
        ]
    else:
        flag_cols = [F.lit(False).alias(f"hot{b}") for b in range(_MH_BANDS)]
    banded = banded.select(
        "doc_id", "th", "n_tok", "salt", *bands, *carry, *flag_cols
    )
    x = _spread(banded, "doc_id")
    if not broadcast_build:
        x = x.withColumn(
            "sj", F.explode(F.sequence(F.lit(0), F.lit(_MH_SALTS - 1)))
        )
    x = x.alias("x")
    y = F.broadcast(banded.alias("y")) if broadcast_build else banded.alias("y")
    # inclusion-exclusion union (dedup_near_jaccard's spelling, r14): the
    # token sets are distinct, so |A u B| = nA + nB - |I| exactly - one
    # array scan per pair instead of intersect AND union (the union
    # otherwise allocates a deduped 2x-width array per candidate)
    _inter = F.size(F.array_intersect("x.th", "y.th")).cast("double")
    jac = _inter / (F.col("x.n_tok") + F.col("y.n_tok") - _inter)
    # lossless size-ratio prune (jac <= min(n)/max(n), dedup_near_jaccard's
    # lesson): integer compares ahead of any array scan
    ratio_ok = (F.col("x.n_tok") >= t * F.col("y.n_tok")) & (
        F.col("y.n_tok") >= t * F.col("x.n_tok")
    )
    parts = []
    for bnd in range(_MH_BANDS):
        # a hot band is NOT a match: branch b requires band b cold, and
        # the lowest-band dedup predicate becomes "prev band differs OR
        # prev band was hot" so pairs sharing a hot band still verify in
        # their lowest COLD band (x's flag suffices - matching rows share
        # the bucket, hence the flag)
        cond = (F.col(f"x.band{bnd}") == F.col(f"y.band{bnd}")) & (
            ~F.col(f"x.hot{bnd}")
        )
        if not broadcast_build:
            cond = cond & (F.col("x.sj") == F.col("y.salt"))
        cond = cond & (F.col("x.doc_id") < F.col("y.doc_id"))
        for prev in range(bnd):
            cond = cond & (
                (F.col(f"x.band{prev}") != F.col(f"y.band{prev}"))
                | F.col(f"x.hot{prev}")
            )
        cond = cond & ratio_ok & (jac >= t)
        parts.append(
            x.join(y, cond).select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                jac.alias("jac"),
                *carried("x.", "y."),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    if not have_hot:
        return out
    # STAR edges through hot buckets: a capped bucket still contributes
    # (bucket-min -> member) pairs (verified like any candidate), so a
    # genuine boilerplate CLUSTER stays CONNECTED for the clustering
    # consumers at O(bucket) cost instead of the O(bucket^2) pair space -
    # the pair LISTING of a near-clique is irreducibly quadratic, but its
    # component structure is not.  A star (not a chain) on purpose: the
    # bucket arrives at connected_components already a star, so label
    # propagation converges immediately, where a 2654-node chain cost
    # O(log n) extra star rounds (measured +1.4 s at sf0.1).  The
    # bucket-min is a groupBy (map-side-combinable partial agg), NOT a
    # Window.partitionBy(band): a windowed min ships every member of a
    # hot bucket to ONE task - at 100 TB a license-header signature
    # covering 1% of the corpus is billions of rows in a single window
    # partition, the exact skew the cap exists to defuse (VERDICT r8
    # item 2).  The per-bucket minima (<= |corpus|/cap rows, same bound
    # as the hot table itself) broadcast back onto the hot rows, so no
    # task ever owns a whole bucket.  Result-identical: min over the
    # same struct, keyed by the same band value (doc_id is unique and
    # leads the struct, so it alone decides the min).
    star_parts = []
    rep_struct = F.struct("doc_id", "th", "n_tok", *bands, *carry)
    for bnd in range(_MH_BANDS):
        hot_rows = banded.filter(F.col(f"hot{bnd}"))
        reps = hot_rows.groupBy(
            F.col(f"band{bnd}").alias("_bk")
        ).agg(F.min(rep_struct).alias("rep"))
        hm = hot_rows.join(
            F.broadcast(reps), F.col(f"band{bnd}") == F.col("_bk")
        ).drop("_bk")
        _cint = F.size(F.array_intersect("th", F.col("rep.th"))).cast(
            "double"
        )
        cjac = _cint / (F.col("n_tok") + F.col("rep.n_tok") - _cint)
        keep = F.col("doc_id") != F.col("rep.doc_id")
        # drop star pairs that ALSO match in a cold band - those are
        # already emitted by the cold branches (oracle-side the set UNION
        # dedups them for free)
        for c in range(_MH_BANDS):
            keep = keep & (
                (F.col(f"band{c}") != F.col(f"rep.band{c}"))
                | F.col(f"hot{c}")
            )
        keep = keep & (
            (F.col("n_tok") >= t * F.col("rep.n_tok"))
            & (F.col("rep.n_tok") >= t * F.col("n_tok"))
        )
        keep = keep & (cjac >= t)
        star_parts.append(
            hm.filter(keep).select(
                F.col("rep.doc_id").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                cjac.alias("jac"),
                *carried("rep.", ""),
            )
        )
    stars = star_parts[0]
    for p in star_parts[1:]:
        stars = stars.unionAll(p)
    # a pair can star in several hot bands: dedup the (small) star set
    stars = stars.dropDuplicates(["doc_a", "doc_b"])
    return out.unionAll(stars)


@query("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash banding - the 100TB near-dup path: shingle -> K minhashes ->
    band signatures -> group by band bucket -> candidate pairs only within
    buckets (no quadratic blowup).  Pure column expressions over the
    md5-based universal hash family (one md5 per token however many hash
    functions - see minhash_band_cols), which is ENGINE-PORTABLE: since
    round 6 this query carries a full DuckDB oracle that recomputes the
    identical signatures, bands, candidate set and verified pairs - the
    LSH pipeline itself is hash-checked, not just row-counted.  Candidate
    generation + verification live in _banded_pairs (the
    index-carrying, predicate-deduped spelling).
    """
    return _minhash_verified_pairs(spark, sf).select(
        "doc_a", "doc_b", pround("jac", 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "sim_cosine_topk",
    oracle="""
    WITH probe AS (SELECT embedding::DOUBLE[] AS p FROM embeddings
                   WHERE vec_id = 0 AND embedding IS NOT NULL)
    SELECT vec_id, label,
           floor((list_dot_product(embedding::DOUBLE[], p)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(p, p)))) * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM embeddings, probe
    WHERE vec_id <> 0
    ORDER BY list_dot_product(embedding::DOUBLE[], p)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(p, p))) DESC, vec_id
    LIMIT 10
    """,
)
def sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-K against a probe vector (vec_id=0) - the
    exact ANN baseline.  Probe is a 1-row broadcast cross join; the scan is
    embarrassingly parallel and the top-K is a per-partition heap.  Ordering
    on the unrounded cosine with vec_id tiebreak keeps selection stable."""
    e = load(spark, sf, "embeddings")
    # NULL-embedding probe row == no probe: the cross join degrades to an
    # empty frame, matching the oracle's IS NOT NULL probe guard (ADVICE r8)
    probe = e.filter(
        (F.col("vec_id") == 0) & F.col("embedding").isNotNull()
    ).select(F.col("embedding").alias("p"))
    joined = e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull()).crossJoin(F.broadcast(probe))
    cos = _cos_or_null(F.col("embedding"), F.col("p"))
    return (
        joined.select("vec_id", "label", cos.alias("_cos"))
        .orderBy(F.desc("_cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", pround("_cos", 4).alias("cosine"))
    )


def _plane_sign(i: int, j: int) -> int:
    """Deterministic +-1 hyperplane weight for dimension i of plane j:
    parity of the first 60 bits of md5("i:j").  Computed at PLAN-BUILD
    time in Python (hashlib md5 == every engine's md5), so the planes are
    literal constants - no runtime hash at all, and the DuckDB oracle
    bakes in the IDENTICAL signs by construction."""
    h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


# stop-band cap for the hyperplane-LSH buckets (see the in-function
# comment; same default rationale as _MH_BUCKET_CAP).  625 members/bucket
# at sf0.1 stays under it, so fixture-scale results are unchanged.
_KNN_BUCKET_CAP = 1024


def _knn_join_lsh(
    e: DataFrame,
    *,
    dim: int,
    n_bands: int = 4,
    planes_per_band: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Banded random-hyperplane LSH similarity self-join (shared by the
    declared query and the planted-pair recall test).

    Classic LSH banding (Leskovec et al., Mining of Massive Datasets ch.3):
    b bands x r hyperplane sign bits; a pair is a candidate iff ALL r bits
    agree in AT LEAST ONE band - recall ~ 1-(1-p^r)^b for per-bit agreement
    p = 1 - theta/pi.  Candidates are generated per (band, signature)
    bucket via explode + equi-join (never all-pairs), deduped across bands
    with a groupBy, then verified with exact cosine.

    Since round 7 the hyperplane weights are md5-parity LITERALS
    (_plane_sign) rather than runtime xxhash64: each projection is a
    left-associated chain of +-embedding[i] additions, which the DuckDB
    oracle replays with the same literal signs in the same order -
    IEEE-bit-identical projections, hence identical signatures, buckets
    and candidates (verified: 0/500 ulp mismatches at sf0.001).  The
    signs ride as a 64-double array literal through a zip_with fold (an
    inlined 64-term +- chain was bit-identical too but blew Janino's
    64KB method limit - 16 planes x 64 terms of unrolled codegen)."""
    vec = F.col("embedding")
    band_sigs = []
    for band in range(n_bands):
        bits = []
        for r in range(planes_per_band):
            j = band * planes_per_band + r
            signs = F.array(
                *[F.lit(float(_plane_sign(i, j))) for i in range(dim)]
            )
            proj = F.aggregate(
                F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)))
        band_sigs.append(F.concat_ws("", *[b.cast("string") for b in bits]))
    # norm precomputed ONCE PER VECTOR before the band explode (r12, the
    # dedup_semdedup discipline): the verify stage used to evaluate
    # _cos_or_null's full 192-step fold per CANDIDATE ROW (a pair
    # colliding in k bands pays it k times inside the dedup agg);
    # carrying sqrt(dot(v,v)) through the explode leaves the pair with a
    # 64-step dot + one multiply.  Identical IEEE ops in the same order
    # as _norm inside the pair, so every cosine is bit-identical.
    sigs = e.select(
        "vec_id",
        "embedding",
        _norm(vec).alias("nrm"),
        F.posexplode(F.array(*band_sigs)).alias("band", "sig"),
    )
    # hot-bucket stop-band (the _MH_BUCKET_CAP rule, applied r11 after the
    # growth ledger MEASURED the uncapped join at exponent 1.62 / 72 s at
    # sf1): a (band, signature) bucket of n members emits n^2/2 candidate
    # pairs, and with a fixed r-bit band the expected bucket size is
    # N/2^r - candidates grow QUADRATICALLY on isotropic data.  A bucket
    # beyond the cap carries no dedup information (its members are not
    # similar, just numerous - on the random fixtures at sf1 EVERY bucket
    # is hot, on a real clustered corpus only super-nodes are), so it is
    # treated as NOT a match, identically in the oracle.  Work is now
    # <= cap * N pairs - linear in the corpus.
    bsz = sigs.groupBy("band", "sig").agg(F.count("*").alias("_bn"))
    cold = sigs.join(
        bsz.filter(F.col("_bn") <= _KNN_BUCKET_CAP).select("band", "sig"),
        ["band", "sig"],
    )
    a = _spread(cold, "vec_id").alias("a")
    b = cold.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        # a pair colliding in k bands appears k times: dedup BEFORE the
        # (cheap-here, expensive-at-scale) exact-cosine verify
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(F.first(pround(cos, 4)).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _sql_dot(a: str, b: str, dim: int = 64) -> str:
    """Left-fold dot product in DuckDB - list_reduce starts its
    accumulator at the first element, which equals Spark _dot's
    0.0 + t0 + t1 + ... exactly, so the two spellings are
    IEEE-bit-identical (verified: 0/499 mismatches at sf0.001)."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _knn_join_oracle(
    dim: int = 64,
    n_bands: int = 4,
    planes_per_band: int = 4,
    threshold: float = 0.3,
) -> str:
    def proj_sql(j: int) -> str:
        signs = ", ".join(
            f"{float(_plane_sign(i, j))}" for i in range(dim)
        )
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}),"
            f" i -> e[i] * ([{signs}])[i]), (x, y) -> x + y)"
        )

    sig_cols = ",\n             ".join(
        " || ".join(
            f"CASE WHEN ({proj_sql(band * planes_per_band + r)}) >= 0"
            f" THEN '1' ELSE '0' END"
            for r in range(planes_per_band)
        )
        + f" AS band{band}"
        for band in range(n_bands)
    )
    # hot-bucket stop-band: a band bucket beyond _KNN_BUCKET_CAP members
    # is treated as NOT a match (quadratic candidates otherwise) - the
    # Spark side applies the identical rule
    hb_ctes = ",\n    ".join(
        f"hb{b} AS (SELECT band{b} AS s FROM banded GROUP BY band{b}"
        f" HAVING count(*) <= {_KNN_BUCKET_CAP})"
        for b in range(n_bands)
    )
    cand_unions = "\n      UNION\n      ".join(
        f"SELECT x.vec_id AS vec_a, y.vec_id AS vec_b FROM banded x "
        f"JOIN banded y ON x.band{b} = y.band{b} AND x.vec_id < y.vec_id "
        f"JOIN hb{b} ON x.band{b} = hb{b}.s"
        for b in range(n_bands)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    banded AS (
      SELECT vec_id, {sig_cols}
      FROM v),
    {hb_ctes},
    cand AS (
      {cand_unions}),
    pair AS (
      SELECT c.vec_a, c.vec_b,
             floor(({_sql_dot('a.e', 'b.e', dim)}
                    / (sqrt({_sql_dot('a.e', 'a.e', dim)})
                       * sqrt({_sql_dot('b.e', 'b.e', dim)})))
                   * 10000.0 + 0.5) / 10000.0 AS cosine
      FROM cand c
      JOIN v a ON a.vec_id = c.vec_a
      JOIN v b ON b.vec_id = c.vec_b)
    SELECT vec_a, vec_b, cosine FROM pair WHERE cosine >= {threshold}
    """


@query("sim_knn_join", oracle=_knn_join_oracle())
def sim_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate similarity self-join - the 100TB ANN path: banded
    random-hyperplane LSH (4 bands x 4 sign bits) generates candidates
    within (band, signature) buckets only, then exact cosine verifies at
    >= 0.3 (the fixture embeddings are near-orthogonal random vectors -
    max pairwise cosine ~0.51 at sf0.01 - so production-style 0.8+ would
    be vacuous here; planted-pair recall is asserted in
    tests/test_pipeline_components.py).  Deterministic md5-parity
    hyperplanes (_plane_sign) instead of Spark ML's randomly-initialized
    BucketedRandomProjectionLSH, which is ALSO what upgrades this from
    rows-only to fully DuckDB-oracled (VERDICT r6 item 6): signatures,
    buckets, candidates and verified cosines are bit-identical
    cross-engine, so the whole ANN pipeline is hash-checked.

    Since r11 hot buckets (> _KNN_BUCKET_CAP members per band signature)
    are stop-banded on both engines: the growth ledger MEASURED the
    uncapped join at exponent 1.62 (72 s at sf1) because a fixed 4-bit
    band gives expected bucket size N/16 and n^2/2 pairs per bucket.
    Fixture-scale results are unchanged (625/bucket at sf0.1 < 1024);
    on isotropic random data at sf1 every bucket is hot - a real
    clustered corpus keeps its cold buckets and loses only super-node
    noise, the _MH_BUCKET_CAP rationale."""
    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    return _knn_join_lsh(e, dim=64)


# micro-unit quantization for the integer-exact IVF k-means: vectors are
# rounded half-up to 1e-6 units ONCE, and every distance / centroid update
# below is pure int64 arithmetic - order-independent sums, so the whole
# coarse quantizer is bit-identical on any engine (the upgrade that let
# sim_ivf_topk / sim_ivf_quantized_topk carry DuckDB oracles, VERDICT r6
# item 6).  |x| <= 0.58 on the fixture -> vq <= 6e5, squared-diff sums
# <= 64 * (1.2e6)^2 ~ 9e13, * k_cells far inside int64.
_IVF_Q = 1_000_000


def _vq_col(v):
    """Round-half-up micro-unit quantization of a double array column."""
    return F.transform(
        v, lambda x: F.floor(x * float(_IVF_Q) + F.lit(0.5)).cast("long")
    )


def _sqdist(a, b):
    """Integer squared L2 distance between two micro-unit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )


def _nearest_cell(points: DataFrame, cents: DataFrame, vcol: str, cs=None):
    """`points` plus `cell`, the nearest centroid to its `vcol` array - the
    k-means assignment of both quantizers (IVF, PQ).  `cents` is ONE row
    whose `cs` holds the centroids as array<struct<cell, c>> (`cs` may pick
    an element of it, e.g. PQ's cs[sub]); it is broadcast, and each point
    takes array_min over its (d, cell) structs.  Struct order is d, then
    cell, so ties go to the lower cell, as the oracles' min(d * K + cell)
    breaks them.  A map-only projection: no Exchange, and the K candidates
    never become rows.  Distances are INTEGER (micro-unit squared L2), so
    the argmin has no float-tie ambiguity on any engine."""
    cs = F.col("cs") if cs is None else cs
    cell = F.array_min(
        F.transform(
            cs,
            lambda x: F.struct(
                _sqdist(F.col(vcol), x["c"]).alias("d"), x["cell"].alias("cell")
            ),
        )
    )["cell"]
    return (
        points.crossJoin(F.broadcast(cents))
        .withColumn("cell", cell)
        .drop("cs")
    )


def _lloyd_update(assigned: DataFrame, keys: list, vcol: str) -> list:
    """One Lloyd centroid update: per (*keys, pos) the floor of the mean,
    in one aggregate whose K x dim rows are collected; the driver lays
    each centroid out in `pos` order.  Returns [(*key, centroid)], sorted.
    The mean divides in doubles (sums < 2^53, so the quotient is
    IEEE-exact-deterministic and floor() agrees cross-engine; integer
    `div` would not - Spark truncates toward zero, DuckDB floors)."""
    rows = (
        assigned.select(*keys, F.posexplode(vcol).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            F.floor(F.sum("val") / F.count("*").cast("double"))
            .cast("long")
            .alias("m")
        )
        .collect()
    )
    cents: dict = {}
    for r in rows:
        cents.setdefault(tuple(r[k] for k in keys), {})[r["pos"]] = r["m"]
    return sorted((*k, [m[p] for p in sorted(m)]) for k, m in cents.items())


def _kmeans_init(vecs: DataFrame, k: int) -> list:
    """Deterministic k-means init: the `vq` of the k lowest vec_ids, in
    vec_id order (stable across runs and engines)."""
    return [r["vq"] for r in vecs.orderBy("vec_id").limit(k).collect()]


_IVF_CENTS = "cs array<struct<cell int, c array<bigint>>>"


def _ivf_cents_df(spark: SparkSession, cent_rows) -> DataFrame:
    """The K coarse centroids as _nearest_cell's one broadcast row."""
    return local_frame(
        spark,
        [([(cell, [int(x) for x in c]) for cell, c in cent_rows],)],
        _IVF_CENTS,
    )


def _ivf_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, label, v, vq, cell): each vector with its nearest coarse
    centroid (`cents` from _ivf_cents_df)."""
    return _nearest_cell(vecs, cents, "vq")


def _ivf_centroid_rows(
    spark: SparkSession, sf: str, vecs: DataFrame, k_cells: int
) -> list:
    """K coarse centroids by distributed k-means: deterministic init (the
    K lowest vec_ids, one job), then 2 Lloyd rounds of one job each - a
    map-only nearest-centroid projection (_nearest_cell) feeding one
    group-by-(cell, pos) mean whose K x dim rows are collected
    (_lloyd_update).  Centroids live in micro-units: update =
    floor(sum(vq_d) / n), the mean divided in doubles.

    Stored per (application, table, K) in the artifact store: an IVF
    index is built once and probed many times in any real deployment,
    and the build is fully deterministic, so re-running Lloyd on every
    query invocation would only re-derive the identical K x dim table.
    K is part of the key because dedup_semdedup's quantizer scales K
    with corpus size while the ANN probes pin K=16 - the two must never
    share an entry."""

    def build() -> list:
        cent_rows = list(enumerate(_kmeans_init(vecs, k_cells)))
        for _ in range(2):  # Lloyd iterations
            cent_rows = _lloyd_update(
                _ivf_assign(vecs, _ivf_cents_df(spark, cent_rows)), ["cell"], "vq"
            )
        return cent_rows

    return artifacts.memo(spark, sf, "ivf_centroids", build, k_cells)


def _ivf_index(
    spark: SparkSession, sf: str, vecs: DataFrame, cent_rows
) -> DataFrame:
    """The inverted file itself - every vector with its assigned cell -
    stored per (application, table, K) in the artifact store: at 100 TB
    this table is what sits on disk partitioned by `cell`, written once
    at build time; probes read it, they do not re-derive it, and the
    assignment to deterministic centroids is itself deterministic.  The
    build is one map-only pass (scan, quantize, nearest-centroid argmin
    against the broadcast centroid row), materialized by the lazy
    localCheckpoint on first use.  (The Lloyd iterations inside
    _ivf_centroid_rows still call _ivf_assign directly - their
    assignments change per round and must NOT be stored.)"""
    return artifacts.memo(
        spark, sf, "ivf_index",
        lambda: _ivf_assign(vecs, _ivf_cents_df(spark, cent_rows)).localCheckpoint(
            eager=False
        ),
        len(cent_rows),
    )


def _probe_or_none(e: DataFrame):
    """The vec_id=0 probe vector as a Python list, or None when the input
    has no probe row (e.g. an empty table) - the ANN top-k queries degrade
    to an EMPTY result frame instead of crashing on collect()[0], the
    guard any 100 TB job wants when an upstream filter leaves the probe
    side empty (empty-input sweep, round 8)."""
    r = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("p"))
        .take(1)
    )
    return r[0]["p"] if r else None


def _ivf_probe_cells(p, cent_rows, nprobe: int):
    """The nprobe cells nearest the probe vector `p` (_probe_or_none's
    list), computed on the driver from the K x dim centroid table
    (bounded).  The probe is quantized to micro-units exactly like the
    stored vectors (Python math.floor over doubles == both engines' floor
    over the same doubles), so the cell choice is pure-integer and
    engine-portable."""
    import math

    pq = [int(math.floor(x * float(_IVF_Q) + 0.5)) for x in p]
    by_dist = sorted(
        (sum((x - y) ** 2 for x, y in zip(c, pq)), cell) for cell, c in cent_rows
    )
    return [cell for _, cell in by_dist[:nprobe]]


def _ivf_oracle_ctes(k_cells: int = 16, nprobe: int = 6, dim: int = 64) -> str:
    """DuckDB CTE chain replaying the ENTIRE IVF build + probe bit-for-bit:
    micro-unit quantization -> deterministic init -> two unrolled Lloyd
    iterations (integer distances, floor-of-double-mean updates) -> probe
    cell choice -> final assignment.  Every arithmetic step mirrors the
    Spark spelling above (see _ivf_centroid_rows for why the mean divides
    in doubles); min(d * K + cell) % K is the packed-integer equivalent of
    Spark's array_min over (d, cell) structs for cell in [0, K)."""
    rng = f"range(1, {dim + 1})"

    def sqdist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform({rng},"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    def assign(cent: str) -> str:
        return (
            f"SELECT v.vec_id,"
            f" CAST(min({sqdist('v.vq', 'c.c')} * {k_cells} + c.cell)"
            f" % {k_cells} AS INTEGER) AS cell"
            f" FROM v, {cent} c GROUP BY v.vec_id"
        )

    def update(asg: str) -> str:
        return (
            f"SELECT a.cell, d.i AS pos,"
            f" CAST(floor(sum(v.vq[d.i]) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m"
            f" FROM {asg} a JOIN v USING (vec_id),"
            f" (SELECT unnest({rng}) AS i) d"
            f" GROUP BY a.cell, d.i"
        )

    vq = (
        "list_transform(embedding::DOUBLE[],"
        f" x -> CAST(floor(x * {float(_IVF_Q)} + 0.5) AS BIGINT))"
    )
    return f"""v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e, {vq} AS vq
      FROM embeddings WHERE vec_id <> 0 AND embedding IS NOT NULL),
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             vq AS c
      FROM v ORDER BY vec_id LIMIT {k_cells}),
    a1 AS ({assign('init')}),
    u1 AS ({update('a1')}),
    cent1 AS (SELECT cell, list(m ORDER BY pos) AS c FROM u1 GROUP BY cell),
    a2 AS ({assign('cent1')}),
    u2 AS ({update('a2')}),
    cent2 AS (SELECT cell, list(m ORDER BY pos) AS c FROM u2 GROUP BY cell),
    probe AS (
      SELECT embedding::DOUBLE[] AS p, {vq} AS pq
      FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL),
    pcells AS (
      SELECT c.cell FROM cent2 c, probe p
      ORDER BY {sqdist('p.pq', 'c.c')}, c.cell
      LIMIT {nprobe}),
    assigned AS ({assign('cent2')})"""


def _ivf_topk_oracle(topk: int = 10) -> str:
    cos = (
        f"{_sql_dot('v.e', 'p.p')}"
        f" / (sqrt({_sql_dot('v.e', 'v.e')}) * sqrt({_sql_dot('p.p', 'p.p')}))"
    )
    return f"""
    WITH {_ivf_oracle_ctes()},
    scan AS (
      SELECT v.vec_id, v.label, a.cell, {cos} AS cos
      FROM assigned a JOIN v USING (vec_id), probe p
      WHERE a.cell IN (SELECT cell FROM pcells))
    SELECT vec_id, label, cell,
           floor(cos * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM scan ORDER BY cos DESC, vec_id LIMIT {topk}
    """


@query("sim_ivf_topk", oracle=_ivf_topk_oracle())
def sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF (inverted-file) ANN - the partition-pruned scale path alongside
    the LSH-bucketed sim_knn_join.

    Build: _ivf_centroid_rows (cached deterministic k-means).  Search:
    assign the probe to its `nprobe` nearest cells and scan ONLY those
    cells' vectors with exact cosine - at 100 TB the assignment column is
    the partition key, so a probe touches nprobe/K of the data (partition
    pruning does the skipping) instead of all of it.

    Recall vs the exact brute-force sim_cosine_topk is asserted in tests.
    The build is integer-exact (micro-unit k-means, _IVF_Q) which is what
    lets this carry a full DuckDB oracle - the oracle unrolls both Lloyd
    iterations as CTEs and replays the identical assignments."""
    k_cells, nprobe, topk = 16, 6, 10
    e = load(spark, sf, "embeddings")
    p = _probe_or_none(e)
    if p is None:
        return local_frame(
            spark, [], "vec_id long, label int, cell int, cosine double"
        )
    v = F.col("embedding").cast("array<double>")
    vecs = e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull()).select(
        "vec_id", "label", v.alias("v"), _vq_col(v).alias("vq")
    )
    cent_rows = _ivf_centroid_rows(spark, sf, vecs, k_cells)
    near_cells = _ivf_probe_cells(p, cent_rows, nprobe)

    # inverted file = assignment column; the probe scans ONLY nprobe cells
    # (at scale `cell` is the storage partition key and this filter is
    # partition pruning - (k_cells - nprobe)/k_cells of the data is never read)
    p_lit = F.array(*[F.lit(float(x)) for x in p])
    cos = _cos_or_null(F.col("v"), p_lit)
    return (
        _ivf_index(spark, sf, vecs, cent_rows)
        .filter(F.col("cell").isin(near_cells))
        .select("vec_id", "label", "cell", cos.alias("_cos"))
        .orderBy(F.desc("_cos"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", "label", F.col("cell").cast("int").alias("cell"), pround("_cos", 4).alias("cosine"))
    )


def _ivf_quantized_oracle(topk: int = 10) -> str:
    rng = "range(1, 65)"
    cos = (
        f"{_sql_dot('c.vhat', 'p.p')}"
        f" / (sqrt({_sql_dot('c.vhat', 'c.vhat')}) * sqrt({_sql_dot('p.p', 'p.p')}))"
    )
    return f"""
    WITH {_ivf_oracle_ctes()},
    pre AS (
      SELECT v.vec_id, v.label, a.cell, v.e,
             sqrt({_sql_dot('v.e', 'v.e')}) AS nrm
      FROM assigned a JOIN v USING (vec_id)
      WHERE a.cell IN (SELECT cell FROM pcells)),
    codes AS (
      SELECT vec_id, label, cell,
             list_transform({rng},
               i -> CAST(floor(e[i] / nrm * 127.0 + 0.5) AS INTEGER)) AS q,
             nrm / 127.0 AS scale
      FROM pre),
    vh AS (
      SELECT vec_id, label, cell,
             list_transform(q, z -> z * scale) AS vhat
      FROM codes),
    scan AS (
      SELECT c.vec_id, c.label, c.cell, {cos} AS cos
      FROM vh c, probe p)
    SELECT vec_id, label, cell,
           floor(cos * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM scan ORDER BY cos DESC, vec_id LIMIT {topk}
    """


@query("sim_ivf_quantized_topk", oracle=_ivf_quantized_oracle())
def sim_ivf_quantized_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN probing an INT8-quantized index - the composition a real
    100 TB ANN deployment runs (VERDICT r5 item 4): the coarse quantizer
    and cell layout of sim_ivf_topk, but the stored vectors are the 1-byte
    codes + per-vector scale of sim_embed_quantize (4x smaller index =
    4x more of it fits in page cache / executor memory), dequantized
    INSIDE the nprobe-cell scan as q * scale.

    Plan shape is identical to sim_ivf_topk - the quantized index is a
    map-side projection of the assigned table (no extra shuffle), the cell
    filter is still partition pruning at scale, and the dequantize +
    cosine is a codegen transform/aggregate chain, no UDF.  Recall vs the
    float brute-force top-k is asserted in tests (quantization error at
    int8 moves cosine by <1e-2 on unit-norm-ish vectors, far below the
    fixture's inter-neighbor gaps).  Oracled like sim_ivf_topk: the
    int8 codes floor IEEE-deterministic per-element expressions (one
    rounding per op, same op order both engines), so codes, dequantized
    vectors and cosines are bit-identical cross-engine."""
    k_cells, nprobe, topk = 16, 6, 10
    e = load(spark, sf, "embeddings")
    p = _probe_or_none(e)
    if p is None:
        return local_frame(
            spark, [], "vec_id long, label int, cell int, cosine double"
        )
    v = F.col("embedding").cast("array<double>")
    vecs = e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull()).select(
        "vec_id", "label", v.alias("v"), _vq_col(v).alias("vq")
    )
    cent_rows = _ivf_centroid_rows(spark, sf, vecs, k_cells)
    near_cells = _ivf_probe_cells(p, cent_rows, nprobe)

    # the stored index: int8 codes + scale, NOT the float vectors (at scale
    # this is what sits on disk partitioned by `cell`); codes are exactly
    # sim_embed_quantize's - floor(x / norm * 127 + 0.5), scale = norm/127
    nrm = _norm(F.col("v"))
    nrm_nz = F.nullif(nrm, F.lit(0.0))  # zero vectors: NULL codes, not a crash
    index = (
        _ivf_index(spark, sf, vecs, cent_rows)
        .filter(F.col("cell").isin(near_cells))
        .select(
            "vec_id",
            "label",
            "cell",
            F.transform(
                "v",
                lambda x: F.floor(x / nrm_nz * 127.0 + F.lit(0.5)).cast("int"),
            ).alias("q"),
            (nrm / 127.0).alias("scale"),
        )
    )
    # dequantize inside the cell scan: v_hat = q * scale (scale cancels in
    # the cosine, but carrying it keeps the index layout honest - it is
    # what a downstream L2 / inner-product probe would need)
    vhat = F.transform("q", lambda qq: qq.cast("double") * F.col("scale"))
    p_lit = F.array(*[F.lit(float(x)) for x in p])
    cos = _cos_or_null(vhat, p_lit)
    return (
        index.select("vec_id", "label", "cell", cos.alias("_cos"))
        .orderBy(F.desc("_cos"), F.asc("vec_id"))
        .limit(topk)
        .select(
            "vec_id",
            "label",
            F.col("cell").cast("int").alias("cell"),
            pround("_cos", 4).alias("cosine"),
        )
    )


def _ivf_recall_oracle(topk: int = 10) -> str:
    # ivf replays _ivf_topk_oracle's scan CTE (same build CTEs, same raw
    # ordering); exact is the brute-force reference over the SAME v/probe
    # CTEs - the filter (vec_id <> 0, non-NULL embedding) matches
    # sim_cosine_topk's builder exactly
    cos = (
        f"{_sql_dot('v.e', 'p.p')}"
        f" / (sqrt({_sql_dot('v.e', 'v.e')}) * sqrt({_sql_dot('p.p', 'p.p')}))"
    )
    return f"""
    WITH {_ivf_oracle_ctes()},
    scan AS (
      SELECT v.vec_id, {cos} AS cos
      FROM assigned a JOIN v USING (vec_id), probe p
      WHERE a.cell IN (SELECT cell FROM pcells)),
    ivf AS (SELECT vec_id FROM scan ORDER BY cos DESC, vec_id LIMIT {topk}),
    exact AS (
      SELECT v.vec_id FROM v, probe p
      ORDER BY {cos} DESC, v.vec_id LIMIT {topk})
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM ivf) AS BIGINT) AS n_ivf,
           CAST((SELECT count(*) FROM exact e
                 JOIN ivf i ON e.vec_id = i.vec_id) AS BIGINT) AS n_common,
           CAST((SELECT count(*) FROM exact) -
                (SELECT count(*) FROM exact e
                 JOIN ivf i ON e.vec_id = i.vec_id) AS BIGINT) AS n_missed,
           -- empty corpus: recall undefined -> NULL, never 0/0
           CAST(((SELECT count(*) FROM exact e
                  JOIN ivf i ON e.vec_id = i.vec_id) * 1000000)
                // nullif((SELECT count(*) FROM exact), 0)
                AS BIGINT) AS recall_micro
    """


@query("sim_ivf_recall_audit", oracle=_ivf_recall_oracle())
def sim_ivf_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Index-quality audit for the IVF ANN path: measured RECALL@k of
    sim_ivf_topk's nprobe-cell scan against the exact brute-force
    sim_cosine_topk over the same probe - the number you check BEFORE
    trusting (k_cells, nprobe) at 100 TB, where "nprobe/K of the data"
    is the cost model and this is what that skipping actually loses
    (the IVF dual of dedup_lsh_recall_audit, closing the audit pair:
    every approximate path in the engine ships with its own measured
    recall).  Implementation literally CALLS the two registered
    builders and joins their top-k id sets - the audit can never drift
    from what the audited queries do; both are fully oracled, so the
    audit is DuckDB-hash-checked end to end.  Empty corpus: zero
    counts, NULL recall (0/0 is undefined, not 0)."""
    exact = sim_cosine_topk(spark, sf).select("vec_id")
    ivf = sim_ivf_topk(spark, sf).select("vec_id")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_ivf = ivf.agg(F.count("*").alias("n_ivf"))
    n_common = exact.join(ivf, "vec_id").agg(F.count("*").alias("n_common"))
    return (
        n_exact.crossJoin(F.broadcast(n_ivf))
        .crossJoin(F.broadcast(n_common))
        .select(
            "n_exact",
            "n_ivf",
            "n_common",
            (F.col("n_exact") - F.col("n_common")).alias("n_missed"),
            F.expr(
                "CAST((n_common * 1000000) div nullif(n_exact, 0) AS BIGINT)"
            ).alias("recall_micro"),
        )
    )


def _semdedup_oracle(tau: float = 0.35) -> str:
    cos = (
        f"{_sql_dot('x.e', 'y.e')}"
        f" / (sqrt({_sql_dot('x.e', 'x.e')}) * sqrt({_sql_dot('y.e', 'y.e')}))"
    )
    return f"""
    WITH {_ivf_oracle_ctes()},
    cellv AS (
      SELECT a.cell, v.vec_id, v.e FROM assigned a JOIN v USING (vec_id)),
    hits AS (
      SELECT y.vec_id, min(x.vec_id) AS dup_of, max({cos}) AS mc
      FROM cellv x JOIN cellv y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {cos} >= {tau}
      GROUP BY y.vec_id)
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           CAST(CASE WHEN h.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
           h.dup_of,
           floor(h.mc * 10000.0 + 0.5) / 10000.0 AS max_cos
    FROM cellv c LEFT JOIN hits h ON c.vec_id = h.vec_id
    """


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup bounded by the IVF coarse quantizer (SemDeDup,
    Abbas et al. 2023: k-means-cluster the embeddings, then near-dup
    only WITHIN clusters) - the embedding dual of the LSH stop-band
    story: dedup_embed_cosine's label-blocked pairwise is lossless but
    quadratic per block, while this caps every pairwise comparison
    inside a k-means cell.  K scales as N/target_cell_size (K =
    max(16, N/128), round 9): per-cell work stays BOUNDED as the
    corpus grows - fixed K would make the within-cell pairwise
    quadratic again at 10x the data - and the cell join key stays
    high-cardinality.  At every oracle-compared scale (<= 2048
    vectors) the floor gives K=16, so this reuses sim_ivf_topk's
    cached deterministic index build (one build, many consumers -
    exactly how a production pipeline amortizes the quantizer) and
    the static oracle CTE chain replays the identical cells.

    Per vector: keep=1 iff no earlier (lower vec_id) same-cell vector
    has cosine >= 0.35 (threshold per dedup_embed_cosine's fixture
    rationale); pruned rows carry dup_of = the LOWEST such earlier id
    (deterministic canonical, the min-id survivor rule every dedup
    family here uses) and max_cos = the strongest same-cell affinity.
    Fully DuckDB-oracled via the shared IVF CTE chain - cells,
    pairwise cosines, survivor labels all hash-checked."""
    tau = 0.35
    e = load(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    vecs = e.filter(
        (F.col("vec_id") != 0) & F.col("embedding").isNotNull()
    ).select("vec_id", "label", v.alias("v"), _vq_col(v).alias("vq"))
    # one metadata-cheap count sizes the quantizer; at production scale
    # N is known from the table catalog and the count disappears
    k_cells = max(16, vecs.count() // 128)
    cent_rows = _ivf_centroid_rows(spark, sf, vecs, k_cells)
    # norm precomputed ONCE PER VECTOR (r12): the pairwise stage used to
    # evaluate _cos_or_null's full 192-step fold (dot + both norms) per
    # PAIR; with ~n^2/2K pairs per cell that tripled the dominant cost.
    # sqrt(dot(v,v)) here is the identical IEEE computation _norm does
    # inside the pair, and the pair combines them as nx*ny in the same
    # order, so every cosine is bit-identical to the oracle's spelling.
    idx = _ivf_index(spark, sf, vecs, cent_rows).select(
        "vec_id", "cell", "v", _norm(F.col("v")).alias("nrm")
    )
    x, y = idx.alias("x"), idx.alias("y")
    # join on (cell, id<) ONLY, then project the cosine ONCE per pair
    # before filter + agg: folding it into the join condition makes
    # Catalyst evaluate the 64-dim fold inside the condition AND again
    # inside max() - projecting first halves the dominant cost
    pairs = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("y.vec_id").alias("vec_id"),
            F.col("x.vec_id").alias("cand"),
            (
                _dot(F.col("x.v"), F.col("y.v"))
                / F.nullif(F.col("x.nrm") * F.col("y.nrm"), F.lit(0.0))
            ).alias("c"),
        )
        .filter(F.col("c") >= tau)
    )
    hits = pairs.groupBy("vec_id").agg(
        F.min("cand").alias("dup_of"), F.max("c").alias("mc")
    )
    return idx.join(hits, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("int").alias("keep"),
        "dup_of",
        pround("mc", 4).alias("max_cos"),
    )


@query(
    "sim_label_centroid",
    oracle="""
    SELECT label, dim,
           count(*) AS n,
           floor((avg(CAST(embedding[dim] AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS centroid_val
    FROM embeddings
    CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) dims
    -- explode/flatten SKIPS NULL vectors (a vectorless row contributes
    -- nothing to a centroid; Spark posexplode's contract - NULL sweep r8)
    WHERE embedding IS NOT NULL
    GROUP BY label, dim
    """,
)
def sim_label_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid (cluster-ish agg): posexplode + group-avg per
    (label, dimension).  The reassembled vector form (collect_list) is used
    by the pipeline library; the query exposes the exploded form for oracle
    comparison."""
    e = load(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            pround(F.avg(F.col("val").cast("double")), 4).alias("centroid_val"),
        )
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle="""
    SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenize + corpus term/document frequencies - the building block for
    TF-IDF and quality scoring."""
    d = load(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df"))
    )


@query(
    "text_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           floor((avg(n_chars)) * 100.0 + 0.5) / 100.0 AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           floor((avg(len(string_split(text, ' ')))) * 100.0 + 0.5) / 100.0 AS avg_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus profile by language/source - the language-ID / quality-scoring
    aggregation shape."""
    d = load(spark, sf, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        pround(F.avg("n_chars"), 2).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        pround(F.avg(F.size(F.split("text", " "))), 2).alias("avg_tokens"),
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS distinct_ratio,
           floor((CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))) * 100.0 + 0.5) / 100.0
             AS avg_token_len,
           CAST(len(string_split(text, ' ')) BETWEEN 20 AND 90
                AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')) > 0.2 AS INTEGER) AS passes
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality scoring (length band + lexical diversity) - the
    classic pretraining-data filter, as pure column math."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        pround(distinct_ratio, 4).alias("distinct_ratio"),
        pround(F.col("n_chars").cast("double") / n_tokens, 2).alias("avg_token_len"),
        (n_tokens.between(20, 90) & (distinct_ratio > 0.2)).cast("int").alias("passes"),
    )


# PII patterns shared verbatim by the Spark plan and the DuckDB oracle -
# plain character classes only (no \d, \b, lookarounds), the regex subset
# on which Java regex (Spark) and RE2 (DuckDB) agree match-for-match;
# parity probed on adversarial strings before adoption (overlapping
# candidates, trailing fragments, multi-hit docs)
_PII_EMAIL = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_PII_PHONE = "\\+1-[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
_PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


def _pii_mask(col):
    """Email -> phone -> IP chained masks, the exact order the oracle
    replays (the tags contain no digits/dots, so later patterns cannot
    match inside an earlier mask; the zero-residual property is pinned
    in tests on adversarial strings)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 3 = 0 THEN ' mail user'
                     || CAST(doc_id AS VARCHAR) || '@ex-'
                     || coalesce(source, 'x') || '.net' ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN ' call +1-202-555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST(CAST(floor(doc_id / 256.0) AS BIGINT) % 256
                             AS VARCHAR) || '.'
                     || CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END AS s
      FROM documents),
    m AS (
      SELECT doc_id, s,
             regexp_replace(regexp_replace(regexp_replace(s,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g') AS clean
      FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(s, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(s, '{_PII_IP}')) AS BIGINT) AS n_ips,
           CAST(length(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_md5
    FROM m
    """,
)
def text_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection + masking - the redaction pass every pretraining
    pipeline runs between crawl and tokenizer (C4/Dolma-style: emails,
    phone numbers, IP addresses found and replaced with type tags, with
    per-doc counts kept for the data card).  The fixture corpus is
    synthetic word-salad with no organic PII, so the query DERIVES a
    deterministic augmented column first - doc_id-keyed pseudo-PII
    (email on id%3, NANP phone on id%4, IPv4 on id%5) appended to the
    text, the same fixture-exercising trick merge_upsert plays with its
    %7 key remap - then detects and masks on that; counts, masked
    length and the md5 of the masked text are all hash-checked, so the
    masking itself is verified byte-for-byte cross-engine.

    Scale shape: pure per-row column expressions (concat + three
    regexp_extract_all + three chained regexp_replace) - map-side, zero
    shuffle, whole-stage codegen, linear at 100 TB.  NULL text/source
    coalesce to ''/'x' on BOTH sides (NULL-sweep convention); a NULL
    doc_id injects nothing (NULL % k is NULL, never 0, both engines)."""
    d = load(spark, sf, "documents")
    did = F.col("doc_id")
    email_inj = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" mail user"),
            did.cast("string"),
            F.lit("@ex-"),
            F.coalesce(F.col("source"), F.lit("x")),
            F.lit(".net"),
        ),
    ).otherwise("")
    phone_inj = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(" call +1-202-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    ip_inj = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit("."),
            (F.floor(did / 256.0) % 256).cast("string"),
            F.lit("."),
            (did % 250 + 1).cast("string"),
        ),
    ).otherwise("")
    s = F.concat(F.coalesce(F.col("text"), F.lit("")), email_inj, phone_inj, ip_inj)

    def n_hits(col, pat):
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).cast("long")

    aug = d.select("doc_id", s.alias("s"))
    clean = _pii_mask("s")
    return aug.select(
        "doc_id",
        n_hits(F.col("s"), _PII_EMAIL).alias("n_emails"),
        n_hits(F.col("s"), _PII_PHONE).alias("n_phones"),
        n_hits(F.col("s"), _PII_IP).alias("n_ips"),
        clean.alias("clean"),
    ).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        F.length("clean").cast("long").alias("clean_len"),
        F.md5("clean").alias("clean_md5"),
    )


@query(
    "text_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1]) AS grams
      FROM t)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           floor((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                 * 10000.0 + 0.5) / 10000.0 AS dup_token_ratio,
           CASE WHEN len(grams) > 0
                THEN floor((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                            / len(grams)) * 10000.0 + 0.5) / 10000.0
                ELSE 0.0 END AS dup_bigram_ratio,
           floor((CAST(list_max(list_transform(list_distinct(toks),
                         x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                  / len(toks)) * 10000.0 + 0.5) / 10000.0 AS top_token_ratio
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition signals (the Gopher-rules family):
    duplicate-token fraction, duplicate-bigram fraction, and the share of
    the most frequent token.  Boilerplate/spam pages score high on all
    three and are filtered before pretraining.  Pure per-row higher-order
    array expressions - map-side, zero shuffle, scales linearly.

    The token/bigram arrays are materialized as columns BEFORE the nested
    lambdas: higher-order functions are interpreted and re-evaluate
    embedded subtrees per element, so an inlined split() re-tokenizes the
    doc once per distinct token."""
    d = load(spark, sf, "documents")
    base = d.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("grams", _bigrams(F.col("toks")))
    toks, grams = F.col("toks"), F.col("grams")
    n = F.size(toks)
    ng = F.size(grams)
    top_freq = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda x: F.size(F.filter(toks, lambda y: y == x)),
        )
    )
    return base.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        pround(1.0 - F.size(F.array_distinct(toks)).cast("double") / n, 4).alias(
            "dup_token_ratio"
        ),
        F.when(
            ng > 0,
            pround(1.0 - F.size(F.array_distinct(grams)).cast("double") / ng, 4),
        )
        .otherwise(0.0)
        .alias("dup_bigram_ratio"),
        pround(top_freq.cast("double") / n, 4).alias("top_token_ratio"),
    )


@query(
    "pipeline_pretrain_filter",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio
      FROM documents),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 20 AND 90 AND distinct_ratio > 0.2),
    deduped AS (
      SELECT lang, text, min(doc_id) AS keep_doc_id,
             count(*) AS n_copies,
             min(n_tokens) AS n_tokens
      FROM kept GROUP BY lang, text)
    SELECT lang,
           count(*) AS docs_kept,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS dups_removed,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total
    FROM deduped
    GROUP BY lang
    """,
)
def pipeline_pretrain_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data pipeline: quality filter (length band +
    lexical diversity, same heuristics as text_quality_score) -> exact
    dedup (survivor = min doc_id per (lang, text)) -> per-language corpus
    accounting.  One scan feeds everything; the only shuffles are the dedup
    group and the tiny per-language rollup.

    The dedup groups on sha2(text), NOT text: mostly-unique documents defeat
    the map-side partial agg, so a text-keyed shuffle carries every full
    document across the wire - the r2 bench regression (297->515 ms) was
    exactly this payload meeting the smaller shuffle-partition count.  The
    32-byte digest keys the same groups (collision-free for any realistic
    corpus) at a fraction of the shuffle bytes."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    kept = d.select(
        "doc_id",
        "lang",
        F.sha2("text", 256).alias("content_key"),
        n_tokens.alias("n_tokens"),
    ).filter(n_tokens.between(20, 90) & (distinct_ratio > 0.2))
    deduped = kept.groupBy("lang", "content_key").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("docs_kept"),
        (F.sum("n_copies") - F.count("*")).cast("long").alias("dups_removed"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token,
             tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n)
    SELECT doc_id, token AS top_token,
           floor(tfidf * 10000.0 + 0.5) / 10000.0 AS top_tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token DESC) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit TF-IDF via two aggregations + a broadcast join of the tiny
    document-frequency table; top term per doc via max_by with token
    tiebreak.  (Spark ML HashingTF/IDF would hash tokens into buckets -
    the explicit formulation keeps tokens readable.)  idf = ln((N+1)/(df+1))
    + 1 (smoothed), integer tf - fully deterministic, so the DuckDB dual is
    an exact oracle."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # corpus size as a 1-row aggregate cross-joined into the tiny df dim -
    # no eager driver-side count job (the N lives inside the one plan)
    n = d.agg(F.count("*").alias("n_docs"))
    df = tok.distinct().groupBy("token").agg(F.count("*").alias("df"))
    idf = df.crossJoin(F.broadcast(n)).select(
        "token",
        (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id", "token", (F.col("tf") * F.col("idf")).alias("tfidf")
    )
    return scored.groupBy("doc_id").agg(
        F.max_by("token", F.struct(F.col("tfidf"), F.col("token"))).alias("top_token"),
        pround(F.max("tfidf"), 4).alias("top_tfidf"),
    )


@query(
    "text_lang_profile",
    oracle="""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                 FROM documents)
    SELECT lang, token, count(*) AS n
    FROM tok
    WHERE token IN ('the', 'a', 'of')
    GROUP BY lang, token
    """,
)
def text_lang_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID building block: stopword-frequency profile per declared
    language (n-gram heuristic over a fixed marker set)."""
    d = load(spark, sf, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin("the", "a", "of"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@query(
    "multimodal_join",
    oracle="""
    SELECT doc_id, lang, source, n_chars, label,
           len(embedding) AS dim,
           -- NULL embedding -> NULL norm (DuckDB's list_dot_product
           -- ERRORS on NULL lists where Spark's aggregate yields NULL;
           -- the guard spells the shared semantics - NULL sweep, r8)
           CASE WHEN embedding IS NULL THEN NULL ELSE
             floor((list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 10000.0 + 0.5) / 10000.0
           END AS embedding_norm2
    FROM documents JOIN embeddings ON doc_id = vec_id
    """,
)
def multimodal_join(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal row: text + typed metadata + vector in one relation.
    Binary modalities (image/audio) follow the same pattern with an opaque
    binary column - see pipeline/multimodal.py for the decode plumbing."""
    d = load(spark, sf, "documents")
    e = load(spark, sf, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        pround(_dot(F.col("embedding"), F.col("embedding")), 4).alias("embedding_norm2"),
    )


# ---------------------------------------------------------------------------
# additional dedup / text-analysis variants (north-star list: exact, MinHash
# LSH, SimHash, n-gram Jaccard, embedding-cosine; token counting,
# fingerprinting)
# ---------------------------------------------------------------------------


def _bigrams(toks):
    """Adjacent-token bigrams as zip_with over two shifted slices.

    Spelled this way (not transform over an index sequence) because
    higher-order lambdas re-evaluate any embedded expression subtree PER
    ELEMENT: with `toks` = split(text), an element_at(toks, i) lambda body
    re-tokenizes the document ~2n times per row, while zip_with evaluates
    each input array once per row and only iterates the elements.
    greatest(n-1, 0) guards one-token docs to [] on both slices."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda x, y: F.concat_ws(" ", x, y),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bigrams
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor((CAST(len(list_intersect(a.bigrams, b.bigrams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.bigrams, b.bigrams))))
                 * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.bigrams, b.bigrams)) AS DOUBLE)
          / len(list_distinct(list_concat(a.bigrams, b.bigrams))) >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram (2-shingle) Jaccard near-dup - order-sensitive where token-set
    Jaccard is not (word scrambles stop matching).  Same blocking strategy
    as dedup_near_jaccard."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    g = d.select(
        "doc_id", "lang", "source", F.array_distinct(_bigrams(toks)).alias("bigrams")
    ).withColumn("n_big", F.size("bigrams"))
    a, b = _spread(g, "doc_id").alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.bigrams"), F.col("b.bigrams"))).cast("double")
    # inclusion-exclusion: one array scan per pair instead of two
    union = F.col("a.n_big") + F.col("b.n_big") - inter
    # guard: a pair of sub-bigram (1-token) docs has union 0 and 0/0
    # throws DIVIDE_BY_ZERO under ANSI, while the oracle's NULL >= 0.4
    # quietly excludes the pair - define jac 0 there so both engines drop it
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.4)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            pround(jac, 4).alias("jaccard"),
        )
    )


def _simhash_oracle() -> str:
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x // {1 << j})"
        f" % 2 = 0 THEN -1 ELSE 1 END)) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokens
      FROM documents),
    hashed AS (
      SELECT doc_id, tokens,
             list_transform(tokens, t -> {_base_hash_sql('t')}) AS hs
      FROM toks),
    sigs AS (
      SELECT doc_id, tokens, CAST({votes} AS BIGINT) AS simhash
      FROM hashed)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash,
           floor((CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.tokens, b.tokens))))
                 * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM sigs a JOIN sigs b
      ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup: per-token 16-bit hashes vote per bit position; docs
    with IDENTICAL simhash are candidates, verified with true Jaccard.
    Pure column expressions, grouping on the 16-bit signature - no
    pairwise stage at all, so this is the cheapest scale path of the
    dedup family.  The bit source is the md5-based base hash shared with
    minhash_band_cols (one md5 per token, bits 0-15 reused for all 16
    votes) - engine-portable, so since round 6 the full signature
    computation and candidate set are DuckDB-oracled, not just
    row-counted."""
    d = load(spark, sf, "documents")
    toks = F.array_distinct(F.split("text", " "))
    base = d.select("doc_id", toks.alias("tokens"))
    hashed = base.withColumn(
        "hs", F.transform(F.col("tokens"), lambda t: _base_hash(t))
    )
    n_bits = 16
    bit_cols = []
    for j in range(n_bits):

        def vote(j):
            # h >= 0, so shiftright == integer division by 2^j
            return lambda acc, x: acc + F.when(
                F.pmod(F.shiftright(x, j), 2) == 0, -1
            ).otherwise(1)

        v = F.aggregate(F.col("hs"), F.lit(0), vote(j))
        bit_cols.append(F.when(v >= 0, F.lit(2**j)).otherwise(F.lit(0)))
    simhash = sum(bit_cols[1:], start=bit_cols[0])
    sigs = hashed.select(
        "doc_id",
        "tokens",
        F.size("tokens").alias("n_tok"),
        simhash.cast("long").alias("simhash"),
    )
    a, b = _spread(sigs, "doc_id").alias("a"), sigs.alias("b")
    # inclusion-exclusion union (distinct token sets): one array scan
    _inter = F.size(
        F.array_intersect(F.col("a.tokens"), F.col("b.tokens"))
    ).cast("double")
    jac = _inter / (F.col("a.n_tok") + F.col("b.n_tok") - _inter)
    return (
        a.join(
            b,
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("simhash"),
            pround(jac, 4).alias("jaccard"),
        )
    )


@query(
    "dedup_embed_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))))
                 * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above 0.35 cosine within label
    blocks (blocking bounds the quadratic; the unblocked scale path is the
    LSH-bucketed sim_knn_join).  0.35 because the fixture embeddings are
    near-orthogonal random vectors (max same-label cosine ~0.47 at sf0.01,
    so a production-style 0.9 threshold matches zero pairs and the oracle
    comparison would be vacuous - VERDICT r2 'What's wrong' #2)."""
    e = load(spark, sf, "embeddings")
    a, b = _spread(e, "vec_id").alias("a"), e.alias("b")
    cos = _cos_or_null(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            pround(cos, 4).alias("cosine"),
        )
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(range(1, len(string_split(text, ' '))),
             i -> md5(string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])))
             AS fingerprint,
           CAST(len(string_split(text, ' ')) - 1 AS BIGINT) AS n_bigrams
    FROM documents
    WHERE len(string_split(text, ' ')) > 1
    """,
)
def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: minimum md5 over the rolling bigram window (a
    winnowing-style content signature; md5 keeps it engine-portable where a
    bespoke rolling hash would not be)."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    grams = _bigrams(toks)
    fp = F.array_min(F.transform(grams, F.md5))
    return d.filter(F.size(toks) > 1).select(
        "doc_id",
        fp.alias("fingerprint"),
        (F.size(toks) - 1).cast("long").alias("n_bigrams"),
    )


@query(
    "dedup_winnowing",
    oracle="""
    WITH hashes AS (
      SELECT doc_id,
             list_transform(range(1, len(string_split(text,' '))),
               i -> md5(string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))
               AS h
      FROM documents),
    fps AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(h) - 2),
               i -> list_min(h[i:i+3]))) AS fp
      FROM hashes WHERE len(h) >= 4),
    ex AS (SELECT doc_id, unnest(fp) AS g FROM fps),
    rare AS (SELECT doc_id, g FROM ex
             QUALIFY count(*) OVER (PARTITION BY g) <= 25)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
)
def dedup_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """True winnowing near-dup detection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every bigram shingle, slide a w=4 window over the
    hash sequence taking each window's minimum, and keep the distinct
    selected minima as the doc's fingerprint set (guarantees any shared
    run of >= w+k-1 tokens shares a fingerprint).  Docs are then paired
    through an INVERTED INDEX on the fingerprint - explode + equi-join on
    the fingerprint value, never pairwise over docs - and pairs sharing
    >= 5 fingerprints are reported.

    Scale guards: (a) fingerprints hitting > 25 docs are dropped before
    the self-join (boilerplate winnows; caps any bucket's quadratic
    blow-up - the standard stop-fingerprint prune), implemented as a
    window count over the SAME hash partitioning the join needs, so the
    cap adds no extra shuffle; (b) the window minima are computed
    map-side over a materialized hash array (a slice lambda over a
    column, not a re-derived expression - see _bigrams on higher-order
    lambda re-evaluation)."""
    d = load(spark, sf, "documents")
    grams = _bigrams(F.split("text", " "))
    hashed = d.select("doc_id", F.transform(grams, F.md5).alias("h")).filter(
        F.size("h") >= 4
    )
    # w=4 windows: starts 1..n-3, each slice 4 hashes (the oracle's
    # h[i:i+3] is 1-based INCLUSIVE slicing = the same 4 elements)
    win_min = F.transform(
        F.sequence(F.lit(1), F.size("h") - 3),
        lambda i: F.array_min(F.slice(F.col("h"), i, 4)),
    )
    ex = hashed.select(
        "doc_id", F.explode(F.array_distinct(win_min)).alias("g")
    )
    rare = ex.withColumn(
        "df", F.count("*").over(Window.partitionBy("g"))
    ).filter(F.col("df") <= 25)
    a = rare.select(F.col("g"), F.col("doc_id").alias("doc_a"))
    b = rare.select(F.col("g"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


@query(
    "pipeline_seq_pack",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start_off
      FROM toks)
    SELECT source, doc_id, n_tokens,
           CAST(start_off // 128 AS BIGINT) AS pack_id,
           CAST(start_off % 128 AS BIGINT) AS pack_offset,
           CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS pack_id_last
    FROM packed
    """,
)
def pipeline_seq_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sequence packing (concat-then-chunk, the GPT-style
    pretraining layout): within each source stream, docs are concatenated
    in doc_id order and cut into fixed 128-token sequences; each doc gets
    its start offset, owning pack id, in-pack offset, and the last pack it
    spills into (pack_id != pack_id_last marks boundary-crossing docs).
    One running-sum window = one shuffle on the stream key.

    At 100 TB the partition key must be (source, shard) - doc_id ranges
    bucketed so no single window partition holds a whole source's corpus;
    packing is then per-shard-independent by construction (each shard
    starts at offset 0), which is exactly how training-data loaders
    shard anyway.  The fixture's 10 sources at test scale keep the
    single-key window honest for the oracle."""
    d = load(spark, sf, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = d.select("source", "doc_id", n_tok.alias("n_tokens"))
    packed = base.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(F.col("start_off") / 128).cast("long").alias("pack_id"),
        (F.col("start_off") % 128).cast("long").alias("pack_offset"),
        F.floor((F.col("start_off") + F.col("n_tokens") - 1) / 128)
        .cast("long")
        .alias("pack_id_last"),
    )


@query(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS n_bpe_tokens,
           -- length() = CHARACTERS (the column is a char count; strlen =
           -- bytes only coincided on the ASCII fixtures - multibyte sweep)
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single other-chars) - the standard
    pretraining-corpus size estimators.

    Counting spelling (r12, the pipeline_tokenizer_fertility fix applied
    to its per-doc sibling after the rotation sweep measured THIS id at
    exponent 1.47): regexp_count walks the same non-overlapping match
    sequence as regexp_extract_all without materializing every token as
    an array element, so n_bpe_tokens is value-identical and n_ws_tokens
    = count(' ')+1 == len(split(text,' ')) for non-NULL text (split
    keeps empty fields on both engines; NULL text stays NULL through
    either spelling)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        (F.regexp_count("text", F.lit(" ")) + F.lit(1))
        .cast("long")
        .alias("n_ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@query(
    "pipeline_tokenizer_fertility",
    oracle="""
    SELECT lang,
           CAST(count(*) FILTER (WHERE text IS NOT NULL) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS BIGINT) AS n_bpe_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           floor(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                 / nullif(CAST(sum(len(string_split(text, ' '))) AS DOUBLE), 0)
                 * 10000.0 + 0.5) / 10000.0 AS fertility,
           floor(sum(length(text))
                 / nullif(CAST(sum(len(regexp_extract_all(text,
                     '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE), 0)
                 * 10000.0 + 0.5) / 10000.0 AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def pipeline_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-ish tokens per
    whitespace word and characters per token - the numbers that size a
    tokenizer's cost and bias across languages BEFORE a pretraining run
    (fertility >> 1 on a language means its documents consume
    proportionally more sequence budget per word; the standard
    multilingual-tokenizer fairness metric, e.g. Rust et al. 2021 'How
    Good is Your Tokenizer?').  Same regex token rule as
    text_token_count_bpe; pure map-side counts into one combinable
    per-lang agg - zero joins, one shuffle of 5 rows, unchanged at
    100 TB.

    Counting spelling (r12, closes the one confirmed superlinear entry
    in the growth ledger, measured exp 1.174): size(regexp_extract_all)
    MATERIALIZED every token as a UTF8String array element just to take
    its length - allocation + GC proportional to token count made the
    map side grow faster than the scan.  regexp_count walks the same
    non-overlapping match sequence without allocating matches, so
    n_bpe_tokens is value-identical (count of matches == length of the
    extracted list) and n_words = count(' ')+1 == len(split(text,' '))
    for any non-NULL text (split keeps empty fields on both engines;
    NULL text stays NULL through either spelling and sum() skips it)."""
    d = load(spark, sf, "documents")
    words = F.regexp_count("text", F.lit(" ")) + F.lit(1)
    bpe = F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
    g = d.groupBy("lang").agg(
        F.count(F.when(F.col("text").isNotNull(), 1)).alias("n_docs"),
        F.sum(words).alias("n_words"),
        F.sum(bpe).alias("n_bpe_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
    )
    safe_words = F.when(F.col("n_words") == 0, None).otherwise(F.col("n_words"))
    safe_bpe = F.when(F.col("n_bpe_tokens") == 0, None).otherwise(
        F.col("n_bpe_tokens")
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        pround(F.col("n_bpe_tokens") / safe_words.cast("double"), 4).alias(
            "fertility"
        ),
        pround(F.col("n_chars") / safe_bpe.cast("double"), 4).alias(
            "chars_per_token"
        ),
    )


# marker vocabularies for the language-ID heuristic: disjoint subsets of the
# fixture vocabulary so per-doc scores actually vary (the fixture's text is
# synthetic; what's under test is the scoring operator, not linguistics)
_LANG_MARKERS = {
    "de": ["table", "row", "join"],
    "en": ["the", "a", "query"],
    "es": ["scan", "sort", "filter"],
    "fr": ["group", "hash", "merge"],
    "zh": ["stream", "batch", "window"],
}


@query(
    "text_langid_predict",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang AS declared,
        len(list_filter(string_split(text,' '), t -> t IN ('table','row','join'))) AS s_de,
        len(list_filter(string_split(text,' '), t -> t IN ('the','a','query'))) AS s_en,
        len(list_filter(string_split(text,' '), t -> t IN ('scan','sort','filter'))) AS s_es,
        len(list_filter(string_split(text,' '), t -> t IN ('group','hash','merge'))) AS s_fr,
        len(list_filter(string_split(text,' '), t -> t IN ('stream','batch','window'))) AS s_zh
      FROM documents)
    SELECT doc_id, declared,
           CASE WHEN s_de = g THEN 'de' WHEN s_en = g THEN 'en'
                WHEN s_es = g THEN 'es' WHEN s_fr = g THEN 'fr'
                ELSE 'zh' END AS predicted,
           CAST(g AS BIGINT) AS best_score
    FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS g FROM s)
    """,
)
def text_langid_predict(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document language-ID prediction: score each language by marker-
    token hit count (duplicates counted - an n-gram-profile heuristic),
    argmax with lexical tie-break (the CASE chain tests languages in sorted
    order).  Pure column expressions, one scan, no shuffle."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    def _score(markers):
        # single-parameter closure: a two-arg lambda (even via default arg)
        # makes F.filter pass the element INDEX as the second argument
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: _score(markers) for lang, markers in _LANG_MARKERS.items()}
    g = F.greatest(*scores.values())
    pred = F
    chain = None
    for lang in sorted(_LANG_MARKERS)[:-1]:
        cond = scores[lang] == g
        chain = F.when(cond, lang) if chain is None else chain.when(cond, lang)
    chain = chain.otherwise(sorted(_LANG_MARKERS)[-1])
    return d.select(
        "doc_id",
        F.col("lang").alias("declared"),
        chain.alias("predicted"),
        g.cast("long").alias("best_score"),
    )


@query(
    "text_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
      FROM documents)
    SELECT doc_id,
           CAST((s.start - 1) // 8 + 1 AS BIGINT) AS chunk_idx,
           CAST(s.start AS BIGINT) AS chunk_start,
           CAST(len(list_slice(t, s.start, least(CAST(n AS BIGINT), s.start + 9))) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(t, s.start, least(CAST(n AS BIGINT), s.start + 9)), ' ')
             AS chunk_text
    FROM toks
    JOIN LATERAL (SELECT unnest(range(1, CAST(n AS BIGINT) + 1, 8)) AS start) s ON true
    """,
)
def text_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size token chunking with overlap (size 10, stride 8) - the
    pretraining-corpus windowing op.  Chunk starts come from a stepped
    sequence + explode (map-side 1->N, no shuffle); each chunk is a slice
    of the token array re-joined to text."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("t"), F.size(toks).alias("n"))
    starts = base.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(8))).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start"), F.lit(10))
    return starts.select(
        "doc_id",
        (((F.col("start") - 1) / 8).cast("long") + 1).alias("chunk_idx"),
        F.col("start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


@query(
    "text_paragraph_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents),
    occ AS (
      SELECT doc_id, s.start,
             array_to_string(list_slice(t, s.start, least(n, s.start + 9)), ' ') AS c,
             doc_id * 100000 + s.start AS occ_key
      FROM toks
      JOIN LATERAL (SELECT unnest(range(1, n + 1, 10)) AS start) s ON true),
    win AS (SELECT md5(c) AS h, min(occ_key) AS w FROM occ GROUP BY md5(c)),
    k AS (
      SELECT o.doc_id, o.start, o.c, (o.occ_key = win.w) AS keep
      FROM occ o JOIN win ON md5(o.c) = win.h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(length(coalesce(
             string_agg(c, ' ' ORDER BY start) FILTER (WHERE keep), ''))
             AS BIGINT) AS kept_len,
           md5(coalesce(
             string_agg(c, ' ' ORDER BY start) FILTER (WHERE keep), ''))
             AS kept_md5
    FROM k GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level corpus-wide dedup with document REWRITE - the
    CCNet / Dolma line-dedup stage (Wenzek et al. 2020 dedup lines
    across shards before langid; Dolma's para_dedup): a repeated
    paragraph survives only at its globally FIRST occurrence (lowest
    (doc_id, position)); every other copy is cut and the document is
    REBUILT from its surviving paragraphs in order.  This is the family
    the per-document dedups cannot express: the unit removed is inside
    the document, but the removal decision needs corpus-wide counts.
    The fixture corpus has no newlines, so 'paragraph' = the
    non-overlapping 10-token window (text_chunking's unit at stride =
    size); a real corpus swaps the chunker for split-on-newline and
    nothing else changes.

    Plan: map-side chunk explode -> md5 -> groupBy(hash) min
    (combinable partial agg; the argmin is the PACKED integer
    doc_id * 100000 + start, the engine-portable argmin spelling -
    bounded to docs under 100k tokens, fine for any pretraining corpus
    where oversized docs are pre-split) -> hash-keyed equi-join of the
    winner table back onto the occurrences (linear per occurrence even
    on a boilerplate paragraph shared by millions of docs - AQE's
    skew split handles a hot HASH key because this join's output is
    1:1, unlike the pairwise joins the stop-band cap guards) -> per-doc
    rebuild via null-skipping collect_list of (start, chunk) structs,
    array_sort, concat.  kept_md5 hash-pins the rebuilt TEXT, not just
    counts, so chunk order survives the shuffle."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("t"), F.size(toks).alias("n"))
    # r15 (guide 8: decide with small rows, move big rows once): the
    # winner join and the per-doc rollup shuffle ONLY (doc_id, start, h,
    # occ_key) - the 10-token chunk TEXT never leaves its row.  The old
    # spelling carried the chunk string through the md5-keyed join
    # exchange AND the doc_id rollup exchange (the corpus shuffled ~2x);
    # now the rebuild re-slices the token array after ONE doc_id join of
    # the kept-start lists back onto base - corpus bytes cross one
    # exchange, metadata crosses the rest.  Values are identical: the
    # kept chunks are the same slices in the same start order.
    occ = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(10))).alias("start"),
        "t",
    ).select(
        "doc_id",
        "start",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("t"), F.col("start"), F.lit(10)))
        ).alias("h"),
        (F.col("doc_id") * 100000 + F.col("start")).alias("occ_key"),
    )
    win = occ.groupBy("h").agg(F.min("occ_key").alias("w"))
    keep = F.col("occ_key") == F.col("w")
    agged = (
        occ.join(win, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.array_sort(
                # collect_list drops NULLs: kept starts only
                F.collect_list(F.when(keep, F.col("start")))
            ).alias("ss"),
        )
    )
    rebuilt = F.concat_ws(
        " ",
        F.transform(
            "ss", lambda s: F.concat_ws(" ", F.slice(F.col("t"), s, F.lit(10)))
        ),
    )
    return base.join(agged, "doc_id").select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.length(rebuilt).cast("long").alias("kept_len"),
        F.md5(rebuilt).alias("kept_md5"),
    )


@query(
    "dedup_decontaminate",
    oracle="""
    WITH grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                    || ' ' || string_split(text,' ')[i+2])) AS trigrams
      FROM documents),
    eval_grams AS (
      SELECT DISTINCT unnest(trigrams) AS g FROM grams WHERE source = 'src1'),
    corpus AS (SELECT * FROM grams WHERE source <> 'src1')
    SELECT c.doc_id,
           CAST(count(DISTINCT e.g) AS BIGINT) AS n_shared_trigrams,
           CAST(count(DISTINCT e.g) > 0 AS INTEGER) AS contaminated
    FROM corpus c LEFT JOIN eval_grams e
      ON list_contains(c.trigrams, e.g)
    GROUP BY c.doc_id
    """,
)
def dedup_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    3-gram with the held-out eval set (source='src1') - the standard
    train/test-leak scan.  The eval trigram set is tiny -> broadcast; the
    corpus side explodes its trigrams and joins on the gram (an inverted-
    index join, linear in corpus grams - never pairwise in documents)."""
    d = load(spark, sf, "documents")
    toks = F.col("toks")
    # trigrams via zip_with over shifted slices (see _bigrams: an indexed
    # transform lambda would re-evaluate the token array per element);
    # toks is materialized as a column first for the same reason
    n2 = F.greatest(F.size(toks) - 2, F.lit(0))
    trigrams = F.array_distinct(
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, n2),
                F.slice(toks, 2, n2),
                lambda x, y: F.concat_ws(" ", x, y),
            ),
            F.slice(toks, 3, n2),
            lambda xy, z: F.concat_ws(" ", xy, z),
        )
    )
    g = d.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    ).select("doc_id", "source", trigrams.alias("trigrams"))
    eval_grams = (
        g.filter(F.col("source") == "src1")
        .select(F.explode("trigrams").alias("g"))
        .distinct()
    )
    corpus = g.filter(F.col("source") != "src1").select(
        "doc_id", F.explode("trigrams").alias("g")
    )
    hits = corpus.join(F.broadcast(eval_grams), "g", "left_semi")
    # report EVERY corpus doc, not just docs with >= 1 trigram: a doc under
    # 3 tokens has nothing to leak and must appear as n_shared=0 exactly
    # like the oracle's LEFT JOIN row (basing the doc list on the exploded
    # gram frame silently dropped such docs - latent divergence surfaced by
    # the degenerate-corpus sweep)
    return (
        g.filter(F.col("source") != "src1")
        .select("doc_id")
        .join(
            hits.groupBy("doc_id").agg(F.count("*").alias("n_shared_trigrams")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("n_shared_trigrams", F.lit(0)).cast("long").alias(
                "n_shared_trigrams"
            ),
            (F.coalesce("n_shared_trigrams", F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# training-mix construction + corpus reporting (round 5)
# ---------------------------------------------------------------------------

_DSIR_B = 128  # hashed n-gram feature buckets


@query(
    "pipeline_importance_dsir",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
    g AS (
      SELECT t.doc_id, t.lang,
             CAST(('0x' || substr(md5(t.toks[r.i] || ' ' || t.toks[r.i + 1]),
                                  1, 6)) AS BIGINT) % {_DSIR_B} AS bucket
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) r),
    b AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS raw_c,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS tgt_c
      FROM g GROUP BY bucket),
    tot AS (
      SELECT CAST(sum(raw_c) AS BIGINT) AS rn,
             CAST(sum(tgt_c) AS BIGINT) AS tn
      FROM b),
    lw AS (
      SELECT b.bucket,
             CAST(floor(ln(((b.tgt_c + 1) * (tot.rn + {_DSIR_B}))
                   / CAST((b.raw_c + 1) * (tot.tn + {_DSIR_B}) AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT) AS lw
      FROM b, tot),
    d AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(lw.lw) AS BIGINT) AS w_micro
      FROM g JOIN lw USING (bucket) GROUP BY g.doc_id)
    SELECT doc_id, n_grams, w_micro,
           CAST(floor(w_micro / CAST(n_grams AS DOUBLE)) AS BIGINT)
             AS avg_w_micro,
           CAST(CASE WHEN w_micro > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS selected
    FROM d
    """,
)
def pipeline_importance_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """Data Selection via Importance Resampling, hashed-n-gram flavor
    (DSIR, Xie et al. 2023): score every document by how much more
    likely its hashed-bigram features are under the TARGET domain
    (lang='en' here) than under the raw corpus, and keep the docs whose
    aggregate log-ratio is positive - the importance-weighting step
    between heuristic quality filters (pipeline_pretrain_filter) and
    mixture sampling (pipeline_mix_sample) in a modern pretraining
    pipeline.  Features are md5-bucketed bigrams ({_DSIR_B} buckets,
    the pipeline_feature_hashing / Count-Min discipline - engine-
    portable, fixed model size); bucket weights are
    ln((tgt+1)(R+B) / ((raw+1)(T+B))) - add-one smoothed so empty
    targets and unseen buckets degrade gracefully - floored to integer
    micro-nats PER BUCKET before any per-doc sum (the js_divergence
    discipline: sums stay order-independent integers, bit-identical
    cross-engine; log arguments are ratios of exact integer products,
    rescale to per-million counts once totals approach 2^53 at 100 TB).

    Plan shape: the map-side bigram-hash explode feeds TWO consumers -
    the bucket model (a <= {_DSIR_B}-row agg, perfectly combinable,
    carries no text; totals derive from the model itself) and the
    per-doc scoring join - so the gram expressions evaluate twice, one
    map-side pass each (VERDICT r8 item 7).  That is deliberate: at
    100 TB the exploded gram stream is far larger than the corpus and
    caching it would trade two cheap stateless scans for a massive
    materialization; in production the {_DSIR_B}-row model is persisted
    between the two passes, exactly as the broadcast here stands in
    for.  The scoring join BROADCASTS the {_DSIR_B}-row weight table
    onto the gram stream and aggregates per doc - two data-bounded
    shuffles total, nothing grows with the vocabulary."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    base = d.filter(F.col("text").isNotNull() & (F.size(toks) >= 2)).select(
        "doc_id", "lang", toks.alias("tk")
    )
    grams = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - 1),"
                f" i -> CAST(conv(substring(md5(concat(element_at(tk, i),"
                f" ' ', element_at(tk, i + 1))), 1, 6), 16, 10) AS BIGINT)"
                f" % {_DSIR_B})"
            )
        ).alias("bucket"),
    )
    b = grams.groupBy("bucket").agg(
        F.count("*").alias("raw_c"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tgt_c"),
    )
    tot = b.agg(F.sum("raw_c").alias("rn"), F.sum("tgt_c").alias("tn"))
    lw = (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(
                F.log(
                    ((F.col("tgt_c") + 1) * (F.col("rn") + _DSIR_B))
                    / ((F.col("raw_c") + 1) * (F.col("tn") + _DSIR_B)).cast(
                        "double"
                    )
                )
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("lw"),
        )
    )
    docw = (
        grams.join(F.broadcast(lw), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum("lw").alias("w_micro"))
    )
    return docw.select(
        "doc_id",
        "n_grams",
        "w_micro",
        F.floor(F.col("w_micro") / F.col("n_grams").cast("double"))
        .cast("long")
        .alias("avg_w_micro"),
        F.when(F.col("w_micro") > 0, 1).otherwise(0).cast("int").alias("selected"),
    )


@query(
    "pipeline_mix_sample",
    oracle="""
    SELECT doc_id, lang, source,
           floor((16.0 / CASE lang WHEN 'en' THEN 16 WHEN 'de' THEN 12
                                   WHEN 'es' THEN 8  WHEN 'fr' THEN 4
                                   ELSE 2 END) * 10000.0 + 0.5) / 10000.0
             AS mix_weight
    FROM documents
    WHERE instr('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
          < CASE lang WHEN 'en' THEN 16 WHEN 'de' THEN 12 WHEN 'es' THEN 8
                      WHEN 'fr' THEN 4 ELSE 2 END
    """,
)
def pipeline_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified training-mix sampling: per-language keep
    rates in sixteenths (en 16/16, de 12/16, es 8/16, fr 4/16, zh 2/16),
    decided by the first hex digit of md5(doc_id) - the same
    engine-portable key-hash trick as sample_hash_det, so the sampled set
    is a pure function of the data (reproducible across engines, re-runs,
    and cluster sizes; a seeded df.sample changes with partitioning).
    Down-sampled strata carry mix_weight = 1/rate so downstream loss
    weighting can undo the skew.  Pure map-side projection + filter: the
    rate lives in an inline CASE (no dim join), zero shuffle at any scale.
    """
    d = load(spark, sf, "documents")
    k = (
        F.when(F.col("lang") == "en", 16)
        .when(F.col("lang") == "de", 12)
        .when(F.col("lang") == "es", 8)
        .when(F.col("lang") == "fr", 4)
        .otherwise(2)
    )
    digit = F.expr(
        "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    return d.filter(digit < k).select(
        "doc_id",
        "lang",
        "source",
        pround(F.lit(16.0) / k, 4).alias("mix_weight"),
    )


@query(
    "pipeline_mixture_doremi",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents),
    grp AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, token),
    freq AS (SELECT token, CAST(sum(c) AS BIGINT) AS nf FROM grp GROUP BY token),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM grp),
    sc AS (
      SELECT g.lang, g.c,
             CAST(floor(-ln(f.nf / CAST(t.total AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS mn
      FROM grp g JOIN freq f USING (token) CROSS JOIN tot t),
    dom AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(c * mn) AS BIGINT) AS s
      FROM sc GROUP BY lang),
    davg AS (
      SELECT lang, n_tokens,
             CAST(floor(s / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS avg_nll_micro
      FROM dom),
    gavg AS (
      SELECT CAST(floor(sum(s) / CAST(sum(n_tokens) AS DOUBLE)) AS BIGINT) AS g
      FROM dom),
    w AS (
      SELECT d.lang, d.n_tokens, d.avg_nll_micro,
             CAST(d.avg_nll_micro - g.g AS BIGINT) AS excess_micro,
             CAST(floor(1000000.0
                        * (4000000 + greatest(-2000000,
                                              least(2000000,
                                                    d.avg_nll_micro - g.g)))
                        / 4000000.0) AS BIGINT) AS w_micro
      FROM davg d CROSS JOIN gavg g),
    tw AS (SELECT CAST(sum(w_micro) AS BIGINT) AS t FROM w)
    SELECT lang, n_tokens, avg_nll_micro, excess_micro, w_micro,
           CAST(floor(w_micro * 1000000.0 / CAST(tw.t AS DOUBLE)) AS BIGINT)
             AS mix_micro
    FROM w CROSS JOIN tw
    """,
)
def pipeline_mixture_doremi(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture reweighting, DoReMi-flavored (Xie et al. 2023,
    'DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining'): per-domain EXCESS loss against the corpus-wide
    reference drives a multiplicative-weights update of the sampling
    mixture - domains the reference model finds harder than average get
    upweighted.  This is the mixing step BETWEEN importance scoring
    (pipeline_importance_dsir) and stratified sampling
    (pipeline_mix_sample) in a modern pretraining pipeline.  Honest
    scope: the loss proxy is the corpus-unigram NLL
    (text_perplexity_proxy's model, micro-nat integers) and the update
    is ONE linearized multiplicative-weights step
    w = 1 + eta * clip(excess), eta = 1/(4 nats), clipped at +-2 nats -
    DoReMi's inner Group-DRO loop needs a trained proxy model; the
    published update rule's data-plane arithmetic is what runs here,
    and it runs in exact integers (micro-nats; every division is
    floor-of-double, the engine-portable spelling).

    Plan: one token explode feeds a combinable (lang, token) count;
    the unigram model and totals derive FROM that aggregate (no second
    corpus pass, unlike DSIR's two-consumer plan); everything after the
    first agg is vocabulary-bounded, and the domain/global tables are
    single-digit rows - broadcast cross joins, zero driver state."""
    d = load(spark, sf, "documents")
    tok = d.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    grp = tok.groupBy("lang", "token").agg(F.count("*").alias("c"))
    grp = grp.localCheckpoint(eager=False)  # one explode, three consumers
    freq = grp.groupBy("token").agg(F.sum("c").alias("nf"))
    tot = grp.agg(F.sum("c").alias("total"))
    mn = F.floor(
        -F.log(F.col("nf") / F.col("total").cast("double")) * 1000000.0 + 0.5
    ).cast("long")
    sc = (
        grp.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .select("lang", "c", mn.alias("mn"))
    )
    dom = sc.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("mn")).alias("s"),
    )
    davg = dom.select(
        "lang",
        "n_tokens",
        F.floor(F.col("s") / F.col("n_tokens").cast("double"))
        .cast("long")
        .alias("avg_nll_micro"),
        "s",
    )
    gavg = dom.agg(
        F.floor(F.sum("s") / F.sum("n_tokens").cast("double"))
        .cast("long")
        .alias("g")
    )
    excess = F.col("avg_nll_micro") - F.col("g")
    clipped = F.greatest(F.lit(-2000000), F.least(F.lit(2000000), excess))
    w = davg.crossJoin(F.broadcast(gavg)).select(
        "lang",
        "n_tokens",
        "avg_nll_micro",
        excess.cast("long").alias("excess_micro"),
        F.floor(F.lit(1000000.0) * (F.lit(4000000) + clipped) / F.lit(4000000.0))
        .cast("long")
        .alias("w_micro"),
    )
    tw = w.agg(F.sum("w_micro").alias("t"))
    return w.crossJoin(F.broadcast(tw)).select(
        "lang",
        "n_tokens",
        "avg_nll_micro",
        "excess_micro",
        "w_micro",
        F.floor(F.col("w_micro") * 1000000.0 / F.col("t").cast("double"))
        .cast("long")
        .alias("mix_micro"),
    )


@query(
    "pipeline_dataset_card",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           floor(avg(n_chars) * 100.0 + 0.5) / 100.0 AS avg_chars,
           count(DISTINCT text) AS n_unique_texts,
           floor((1.0 - count(DISTINCT text) / CAST(count(*) AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS dup_rate
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), ())
    -- Spark emits NO grouping rows on an empty input where ANSI emits the
    -- 0-count grand-total row; n_docs > 0 filters nothing on populated
    -- input (empty-input sweep, round 8)
    HAVING count(*) > 0
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """The numbers every dataset card reports - doc/token/char counts and
    exact-duplicate rate - at (lang, source), per-lang, and corpus grain in
    ONE scan via GROUPING SETS (partial aggregation map-side; the only
    rescan-forcing term is count(DISTINCT text), which Spark plans as an
    expand + two-phase agg, still a single pass over the input).  At 100 TB
    the same query runs unchanged; only the distinct-count term's expand
    factor (x3 grouping sets) matters, and a sketch swap (agg_hll_-
    sketch_merge pattern) drops it to one pass when +-2% error is fine."""
    d = load(spark, sf, "documents")
    return (
        d.groupingSets(
            [["lang", "source"], ["lang"], []],
            "lang",
            "source",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
            pround(F.avg("n_chars"), 2).alias("avg_chars"),
            F.count_distinct("text").alias("n_unique_texts"),
            pround(
                F.lit(1.0)
                - F.count_distinct("text") / F.count("*").cast("double"),
                4,
            ).alias("dup_rate"),
        )
    )


@query(
    "text_keyword_topk",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token,
             tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n)
    SELECT doc_id, rn AS rank, token AS keyword,
           floor(tfidf * 10000.0 + 0.5) / 10000.0 AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token DESC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def text_keyword_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by smoothed TF-IDF
    (same scoring as text_tfidf, which keeps only the argmax) with a
    deterministic (tfidf DESC, token DESC) tie-break.  The doc-frequency
    table is vocabulary-sized - broadcast; the only big shuffle is the
    per-doc window rank, partitioned by doc_id (arbitrarily parallel, no
    skew: each partition holds whole small documents)."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # ONE explode+shuffle builds tf; df is then a window count over tf
    # (tf has exactly one row per (doc, token), so count-per-token IS the
    # document frequency) and N is a metadata-only count - the naive
    # 3-subtree spelling (tf + tok.distinct df + count) re-scanned and
    # re-exploded documents three times and paid ~7 s of cold plan/codegen
    # at sf0.01 where this shape pays ~2 s for the same rows
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n = d.agg(F.count("*").alias("n_docs"))
    dfw = Window.partitionBy("token")
    scored = (
        tf.withColumn("df", F.count("*").over(dfw))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.desc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            # row_number() is int; the DuckDB dual renders BIGINT, and the
            # driver compares dtype-exactly
            F.col("rank").cast("long").alias("rank"),
            F.col("token").alias("keyword"),
            pround("tfidf", 4).alias("score"),
        )
    )


@query(
    "text_perplexity_proxy",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    freq AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM tok),
    nll AS (
      SELECT doc_id,
             CAST(floor(-ln(freq.n / CAST(tot.total AS DOUBLE)) * 1000000.0
                        + 0.5) AS BIGINT) AS micro_nll
      FROM tok JOIN freq USING (token) CROSS JOIN tot)
    SELECT doc_id,
           count(*) AS n_tokens,
           floor((sum(micro_nll) / 1000000.0 / count(*)) * 10000.0 + 0.5)
             / 10000.0 AS avg_nll,
           floor(exp(sum(micro_nll) / 1000000.0 / count(*)) * 100.0 + 0.5)
             / 100.0 AS ppl
    FROM nll
    GROUP BY doc_id
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM perplexity proxy per document - the CCNet-style quality
    signal (docs far from the corpus distribution score high).  Token
    negative log-likelihoods are quantized to integral MICRO-NATS before
    the per-doc sum, so the aggregate is integer arithmetic - order-
    independent and bit-identical across engines (the merge_upsert
    integral-cents trick; a double sum would make the hash depend on
    Spark's vs DuckDB's summation order).  One explode + two hash aggs +
    a vocabulary-sized broadcast join: at 100 TB the token frequency side
    stays tiny (vocabulary-bounded) while everything else is map-side."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    tot = tok.agg(F.count("*").alias("total"))
    micro_nll = F.floor(
        -F.log(F.col("n") / F.col("total").cast("double")) * 1e6 + F.lit(0.5)
    ).cast("long")
    nll = tok.join(
        F.broadcast(freq.crossJoin(F.broadcast(tot))), "token"
    ).select("doc_id", micro_nll.alias("micro_nll"))
    avg_nll = F.sum("micro_nll") / F.lit(1e6) / F.count("*")
    return nll.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        pround(avg_nll, 4).alias("avg_nll"),
        pround(F.exp(avg_nll), 2).alias("ppl"),
    )


@query(
    "pipeline_source_cap",
    oracle="""
    SELECT doc_id, source
    FROM (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= 40
    """,
)
def pipeline_source_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quota capping: keep at most K docs per source, chosen by
    deterministic hash order (md5 of the key, doc_id tiebreak) so the kept
    set is a stable pseudo-random sample - re-runs, engines, and cluster
    sizes all agree, unlike a LIMIT whose survivors depend on scan order.
    Guards a training mix against one dominant crawl drowning the rest.
    One window shuffle partitioned by source; at 100 TB a skew-prone
    source key would use the two-phase variant (per-partition pre-cap at
    K, then the window over the <= K x partitions survivors)."""
    d = load(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 40)
        .select("doc_id", "source")
    )


@query(
    "pipeline_shuffle_shard",
    oracle="""
    SELECT doc_id,
           CAST(instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                AS BIGINT) AS shard,
           CAST(row_number() OVER (
                  PARTITION BY instr('0123456789abcdef',
                                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                  ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 2), doc_id)
                AS BIGINT) AS pos_in_shard
    FROM documents
    """,
)
def pipeline_shuffle_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle + sharding - the step every pretraining
    pipeline runs before sequence packing: each doc lands in one of 16
    shards (first md5 hex digit) at a pseudo-random position (rank of the
    remaining digest).  Pure function of the data: the training order is
    reproducible bit-for-bit on any engine or cluster size, and resharding
    is a constant change (vs df.orderBy(rand()) whose order changes every
    run and cannot be re-created for a training restart).  One shuffle,
    partitioned by shard - exactly the write layout the packed dataset
    needs (partitionBy("shard"))."""
    d = load(spark, sf, "documents")
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.expr(
            "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1))"
        )
        - 1
    ).cast("long")
    w = Window.partitionBy(shard).orderBy(F.substring(digest, 2, 32), "doc_id")
    return d.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


@query(
    "sim_embed_quantize",
    oracle="""
    WITH n AS (
      SELECT vec_id, label,
             embedding::DOUBLE[] AS e,
             -- NULL vector -> NULL norm/scale/codes, row kept (row-level
             -- transform semantics; DuckDB's list_dot_product ERRORS on a
             -- NULL list where Spark folds to NULL - NULL sweep, r8)
             CASE WHEN embedding IS NULL THEN NULL ELSE
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             END AS nrm
      FROM embeddings)
    SELECT vec_id, label,
           floor((nrm / 127.0) * 1000000.0 + 0.5) / 1000000.0 AS scale,
           array_to_string(
             list_transform(e, x -> CAST(floor(x / nrm * 127.0 + 0.5)
                                         AS BIGINT)),
             ',') AS q8
    FROM n
    """,
)
def sim_embed_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column - the memory
    lever for ANN at 100 TB (4-byte float32 -> 1 byte + one scale per
    vector = 4x smaller index; IVF/LSH probes then dequantize as
    q * scale).  Per-vector scale = L2 norm / 127, codes =
    floor(x / norm * 127 + 0.5) - integer outputs, so the only
    cross-engine float surface is the norm itself (sequential-fold double
    dot product, the same spelling sim_cosine_topk's oracle matches).
    Map-side only: no shuffle, no UDF - transform() keeps the lambda in
    codegen.  Codes rendered as a comma string so both engines hash the
    same canonical form."""
    e = load(spark, sf, "embeddings")
    nrm = _norm(F.col("embedding"))
    nrm_nz = F.nullif(nrm, F.lit(0.0))  # zero vector: NULL codes, not a crash
    q8 = F.array_join(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") / nrm_nz * 127.0 + F.lit(0.5)).cast(
                "long"
            ),
        ),
        ",",
    )
    return e.select(
        "vec_id",
        "label",
        pround(nrm / 127.0, 6).alias("scale"),
        # zero vector: whole code string NULL, matching the oracle's
        # array_to_string over an all-NULL list (Spark's array_join would
        # render '' instead - engines disagree on that rendering)
        F.when(nrm != 0.0, q8).alias("q8"),
    )


_PQ_M, _PQ_K, _PQ_DSUB = 8, 16, 8  # 64-dim = 8 subspaces x 8 dims, 16 cells


def _pq_subvectors(vecs: DataFrame) -> DataFrame:
    """(vec_id, sub, svq): each 64-dim vector split into _PQ_M contiguous
    8-dim MICRO-UNIT INTEGER subvectors - ONE map-side explode, no
    shuffle.  Integer subvectors (the _IVF_Q recipe) make every distance
    and centroid update below bit-identical cross-engine, which is what
    carries the PQ family's DuckDB oracles."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                F.slice("vq", s * _PQ_DSUB + 1, _PQ_DSUB).alias("svq"),
            )
            for s in range(_PQ_M)
        ]
    )
    return vecs.select("vec_id", F.explode(subs).alias("x")).select(
        "vec_id", "x.sub", "x.svq"
    )


def _pq_codebook_rows(spark: SparkSession, sf: str, vecs: DataFrame) -> list:
    """Per-subspace K centroids - ALL _PQ_M subspaces trained in the SAME
    jobs (k-means keyed by (sub, cell)), so the build costs the same
    1 + 2 jobs as the IVF coarse quantizer, not M times as many: the
    init collects the _PQ_K lowest vec_ids and slices their subvectors
    on the driver, and each Lloyd round is a map-only nearest-centroid
    projection against the broadcast codebook row feeding one
    group-by-(sub, cell, pos) mean (_nearest_cell, _lloyd_update).
    Arithmetic is the integer micro-unit k-means of _ivf_centroid_rows
    (integer distances, floor-of-double-mean updates).  Stored per
    (application, table) in the artifact store for the same reason as
    the IVF centroids: the build is deterministic, and a PQ codebook is
    trained once, then used to encode and search many times."""
    return artifacts.memo(
        spark, sf, "pq_codebook", lambda: _pq_train(spark, vecs)
    )


_PQ_CENTS = "cs array<array<struct<cell int, c array<bigint>>>>"


def _pq_cents_df(spark: SparkSession, rows) -> DataFrame:
    """The codebook [(sub, cell, centroid)] as _nearest_cell's one
    broadcast row: cs[sub] holds that subspace's (cell, c) structs."""
    cs: list = [[] for _ in range(_PQ_M)]
    for s, c, v in rows:
        cs[s].append((c, [int(x) for x in v]))
    return local_frame(spark, [(cs,)], _PQ_CENTS)


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """_pq_subvectors' rows plus `cell`, the nearest centroid of their
    own subspace (`cents` from _pq_cents_df)."""
    return _nearest_cell(sv, cents, "svq", F.col("cs")[F.col("sub")])


def _pq_train(spark: SparkSession, vecs: DataFrame) -> list:
    """_pq_codebook_rows' k-means: [(sub, cell, centroid)], sorted."""
    sv = _pq_subvectors(vecs)
    rows = sorted(
        (s, cell, vq[s * _PQ_DSUB:(s + 1) * _PQ_DSUB])
        for cell, vq in enumerate(_kmeans_init(vecs, _PQ_K))
        for s in range(_PQ_M)
    )
    for _ in range(2):  # Lloyd rounds, all subspaces at once
        rows = _lloyd_update(
            _pq_assign(sv, _pq_cents_df(spark, rows)), ["sub", "cell"], "svq"
        )
    return rows


def _pq_codes_plan(spark: SparkSession, sf: str, vecs: DataFrame) -> DataFrame:
    """The un-checkpointed encode plan (map-only argmin against the
    broadcast codebook row); split out so plan tests can assert its shape
    - the cached wrapper below replaces the subtree with an RDD scan."""
    rows = _pq_codebook_rows(spark, sf, vecs)
    return _pq_assign(_pq_subvectors(vecs), _pq_cents_df(spark, rows)).select(
        "vec_id", "sub", F.col("cell").alias("code")
    )


def _pq_codes(spark: SparkSession, sf: str, vecs: DataFrame) -> DataFrame:
    """(vec_id, sub, code): nearest codebook cell per subvector - the
    stored PQ index, _PQ_M bytes per vector (32x smaller than float32).
    Stored per (application, table) like the codebook: in production the
    codes table IS the index, encoded once at build time, and probes
    only read it; the encode is deterministic (the lazy localCheckpoint
    truncates the lineage so repeat probes scan the materialized codes
    instead of re-running the encode join)."""
    return artifacts.memo(
        spark, sf, "pq_codes",
        lambda: _pq_codes_plan(spark, sf, vecs).localCheckpoint(eager=False),
    )


def _pq_oracle_ctes() -> str:
    """DuckDB CTE chain replaying the PQ build bit-for-bit: micro-unit
    integer subvectors -> deterministic init -> two unrolled Lloyd rounds
    keyed by (sub, cell) -> final code assignment.  Same exactness recipe
    as _ivf_oracle_ctes; `codes` carries (vec_id, sub, code)."""
    m, k, dsub = _PQ_M, _PQ_K, _PQ_DSUB
    rng = f"range(1, {dsub + 1})"

    def sqdist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform({rng},"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    def assign(cent: str, code_alias: str = "cell") -> str:
        return (
            f"SELECT sv.vec_id, sv.sub,"
            f" CAST(min({sqdist('sv.svq', 'c.c')} * {k} + c.cell)"
            f" % {k} AS INTEGER) AS {code_alias}"
            f" FROM sv JOIN {cent} c ON c.sub = sv.sub"
            f" GROUP BY sv.vec_id, sv.sub"
        )

    def update(asg: str) -> str:
        return (
            f"SELECT a.sub, a.cell, d.i AS pos,"
            f" CAST(floor(sum(sv.svq[d.i]) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m"
            f" FROM {asg} a JOIN sv ON sv.vec_id = a.vec_id AND sv.sub = a.sub,"
            f" (SELECT unnest({rng}) AS i) d"
            f" GROUP BY a.sub, a.cell, d.i"
        )

    vq = (
        "list_transform(embedding::DOUBLE[],"
        f" x -> CAST(floor(x * {float(_IVF_Q)} + 0.5) AS BIGINT))"
    )
    return f"""v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e, {vq} AS vq
      FROM embeddings WHERE vec_id <> 0 AND embedding IS NOT NULL),
    sv AS (
      SELECT v.vec_id, s.sub,
             list_transform({rng}, i -> v.vq[s.sub * {dsub} + i]) AS svq
      FROM v, (SELECT unnest(range(0, {m})) AS sub) s),
    init AS (
      SELECT sv.sub, CAST(r.rk - 1 AS INTEGER) AS cell, sv.svq AS c
      FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
            FROM v ORDER BY vec_id LIMIT {k}) r
      JOIN sv ON sv.vec_id = r.vec_id),
    a1 AS ({assign('init')}),
    u1 AS ({update('a1')}),
    cent1 AS (SELECT sub, cell, list(m ORDER BY pos) AS c FROM u1
              GROUP BY sub, cell),
    a2 AS ({assign('cent1')}),
    u2 AS ({update('a2')}),
    cent2 AS (SELECT sub, cell, list(m ORDER BY pos) AS c FROM u2
              GROUP BY sub, cell),
    codes AS ({assign('cent2', 'code')})"""


def _pq_encode_oracle() -> str:
    return f"""
    WITH {_pq_oracle_ctes()}
    SELECT vec_id,
           array_to_string(list(CAST(code AS VARCHAR) ORDER BY sub), ',')
             AS pq_codes
    FROM codes GROUP BY vec_id ORDER BY vec_id
    """


def _pq_topk_oracle(topk: int = 10) -> str:
    dsub = _PQ_DSUB
    rng = f"range(1, {dsub + 1})"
    vq = (
        "list_transform(embedding::DOUBLE[],"
        f" x -> CAST(floor(x * {float(_IVF_Q)} + 0.5) AS BIGINT))"
    )
    return f"""
    WITH {_pq_oracle_ctes()},
    probe AS (
      SELECT {vq} AS pq FROM embeddings
      WHERE vec_id = 0 AND embedding IS NOT NULL),
    dtab AS (
      SELECT c.sub, c.cell AS code,
             list_sum(list_transform({rng},
               i -> (p.pq[c.sub * {dsub} + i] - c.c[i])
                    * (p.pq[c.sub * {dsub} + i] - c.c[i]))) AS d
      FROM cent2 c, probe p),
    adc AS (
      SELECT k.vec_id, sum(t.d) AS adc
      FROM codes k JOIN dtab t ON t.sub = k.sub AND t.code = k.code
      GROUP BY k.vec_id)
    SELECT a.vec_id, v.label,
           floor(CAST(a.adc AS DOUBLE) / 1000000000000.0 * 10000.0 + 0.5)
             / 10000.0 AS adc_dist
    FROM adc a JOIN v USING (vec_id)
    ORDER BY a.adc, a.vec_id LIMIT {topk}
    """


@query("sim_pq_encode", oracle=_pq_encode_oracle())
def sim_pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization encoding (Jegou et al., PAMI'11) - the memory
    end-game for 100 TB ANN: each 64-dim float vector becomes _PQ_M=8
    4-bit codes (one per 8-dim subspace, 16 centroids each) = 8 bytes, a
    32x shrink over float32, vs int8 quantization's 4x
    (sim_embed_quantize).  The codebook (m x k x d' = 1024 doubles) is
    k-means-trained per subspace with all subspaces sharing the same jobs,
    broadcast everywhere as one row, and the encode is one explode plus
    an inline argmin over the subvector's own subspace - map-only, no
    shuffle, no UDF.

    Output: one row per vector with the code array rendered canonically
    (codes joined ','); reconstruction error and search recall are
    asserted in tests/test_pipeline_components.py.  Oracled since round 7
    via the integer micro-unit codebook (the _IVF_Q recipe): every
    distance, centroid and code is bit-identical cross-engine."""
    e = load(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    vecs = e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull()).select(
        "vec_id", _vq_col(v).alias("vq")
    )
    codes = _pq_codes(spark, sf, vecs)
    return (
        codes.groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "code"))),
                    lambda x: x["code"].cast("string"),
                ),
                ",",
            ).alias("pq_codes")
        )
        .orderBy("vec_id")
    )


@query("sim_pq_topk", oracle=_pq_topk_oracle())
def sim_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-K search: the probe vector is NOT
    code-quantized; its squared distance to every (sub, cell) centroid is
    a driver-side m x k = 128-entry table, broadcast and equi-joined to
    the stored codes, and each vector's approximate distance is the SUM
    of its m looked-up entries - a groupBy(vec_id) sum, no per-vector
    float math at all.  This is exactly how a 100 TB PQ index is scanned:
    the codes (8 bytes/vector) stream through a hash agg against a table
    that fits in L1 cache; overlap with the exact float top-K is asserted
    in tests.  Distances live in micro-unit^2 INTEGERS end to end (probe
    quantized like the index), so the ADC sum is order-independent and
    the whole search carries a DuckDB oracle (round 7); the reported
    adc_dist rescales to the float metric at the very end."""
    topk = 10
    e = load(spark, sf, "embeddings")
    p = _probe_or_none(e)
    if p is None:
        return local_frame(spark, [], "vec_id long, label int, adc_dist double")
    v = F.col("embedding").cast("array<double>")
    vecs = e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull()).select(
        "vec_id", "label", _vq_col(v).alias("vq")
    )
    codes = _pq_codes(spark, sf, vecs.select("vec_id", "vq"))
    rows = _pq_codebook_rows(spark, sf, vecs.select("vec_id", "vq"))
    import math
    pq = [int(math.floor(x * float(_IVF_Q) + 0.5)) for x in p]
    # driver-side distance table: ||p_sub - c||^2 per (sub, cell), exact ints
    dtab = [
        (
            s,
            c,
            sum(
                (pq[s * _PQ_DSUB + i] - int(v[i])) ** 2
                for i in range(_PQ_DSUB)
            ),
        )
        for s, c, v in rows
    ]
    dt = local_frame(spark, dtab, "sub int, code int, d bigint")
    return (
        codes.join(F.broadcast(dt), ["sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d").alias("_adc"))
        .orderBy(F.asc("_adc"), F.asc("vec_id"))
        .limit(topk)
        .join(vecs.select("vec_id", "label"), "vec_id")
        .orderBy(F.asc("_adc"), F.asc("vec_id"))
        .select(
            "vec_id",
            "label",
            pround(F.col("_adc").cast("double") / 1_000_000_000_000.0, 4).alias(
                "adc_dist"
            ),
        )
    )


@query(
    "pipeline_zorder_key",
    oracle="""
    WITH uh AS (
      SELECT event_id,
             user_id % 256 AS u,
             CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) % 256 AS h
      FROM events),
    z AS (
      SELECT event_id, u, h,
             ((u // 1) % 2) * 1 + ((h // 1) % 2) * 2 + ((u // 2) % 2) * 4 + ((h // 2) % 2) * 8 + ((u // 4) % 2) * 16 + ((h // 4) % 2) * 32 + ((u // 8) % 2) * 64 + ((h // 8) % 2) * 128 + ((u // 16) % 2) * 256 + ((h // 16) % 2) * 512 + ((u // 32) % 2) * 1024 + ((h // 32) % 2) * 2048 + ((u // 64) % 2) * 4096 + ((h // 64) % 2) * 8192 + ((u // 128) % 2) * 16384 + ((h // 128) % 2) * 32768 AS zval
      FROM uh)
    SELECT zval // 1024 AS file_id,
           count(*) AS n_rows,
           min(u) AS u_min, max(u) AS u_max,
           min(h) AS h_min, max(h) AS h_max
    FROM z
    GROUP BY 1
    """,
)
def pipeline_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) layout key for multi-dimension data skipping - the
    lakehouse clustering move at 100 TB: interleaving the low 8 bits of
    user_id with the low 8 bits of the event hour gives a 1-D sort key
    whose contiguous ranges are 2-D tiles, so files written in zval order
    carry TIGHT min/max stats on BOTH columns and a scan filtered on
    either dimension prunes most files (a 1-D sort gives tight stats on
    one dimension only).  The interleave is 16 integer div/mod/multiply
    terms - pure codegen arithmetic, bit-identical on both engines (no
    engine-specific bit ops), zero shuffle until the final tiny
    per-file-id stats agg.  Output is the layout manifest itself: per
    file id (1024 z-cells = a 32x32 (u,h) tile each), the row count and the min/max of each dimension -
    exactly the footer stats a pruning scan would consult.

    At write time the companion move is repartitionByRange(zval) +
    sortWithinPartitions(zval); the manifest here is what proves the
    layout prunes."""
    ev = load(spark, sf, "events")
    u = F.col("user_id") % 256
    h = F.floor(F.unix_micros("ts") / 3_600_000_000.0).cast("long") % 256
    zval = None
    for i in range(8):
        ubit = (u / F.lit(2**i)).cast("long") % 2 * F.lit(2 ** (2 * i))
        hbit = (h / F.lit(2**i)).cast("long") % 2 * F.lit(2 ** (2 * i + 1))
        zval = ubit + hbit if zval is None else zval + ubit + hbit
    z = ev.select("event_id", u.alias("u"), h.alias("h"), zval.alias("zval"))
    return (
        z.groupBy((F.col("zval") / F.lit(1024)).cast("long").alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("h").alias("h_min"),
            F.max("h").alias("h_max"),
        )
    )


@query(
    "text_source_entropy",
    oracle="""
    WITH c AS (
      SELECT lang, source, count(*) AS n
      FROM documents GROUP BY lang, source),
    t AS (
      SELECT lang, sum(n) AS tot, count(*) AS n_sources FROM c GROUP BY lang)
    SELECT c.lang,
           CAST(t.tot AS BIGINT) AS n_docs,
           t.n_sources,
           floor((-sum((n * 1.0 / tot) * ln(n * 1.0 / tot)))
                 * 10000.0 + 0.5) / 10000.0 AS source_entropy_nats
    -- null-safe join: a NULL lang is a real stratum ("unknown language")
    -- and the Spark side's window keeps it; a plain equi-join would drop
    -- it (NULL-input sweep, round 8)
    FROM c JOIN t ON c.lang IS NOT DISTINCT FROM t.lang
    GROUP BY c.lang, t.tot, t.n_sources
    """,
)
def text_source_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language source-mix entropy (nats) - the corpus-diversity
    diagnostic a dataset card reports next to the raw counts
    (pipeline_dataset_card): low entropy means one domain dominates the
    language and the pretrain mix needs rebalancing (pipeline_mix_sample
    is the actuator).  One hash agg to (lang, source) counts - the only
    shuffle that touches data volume - then a lang-level window for the
    totals and the entropy sum over ~|sources| rows.  ln() on the ratio is
    evaluated identically on both engines; the result is pround-ed."""
    d = load(spark, sf, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    p = F.col("n") * 1.0 / F.sum("n").over(w)
    return (
        c.select(
            "lang",
            F.sum("n").over(w).alias("n_docs"),
            F.count("*").over(w).alias("n_sources"),
            (p * F.log(p)).alias("plogp"),
        )
        .groupBy("lang", "n_docs", "n_sources")
        .agg(pround(-F.sum("plogp"), 4).alias("source_entropy_nats"))
    )


@query(
    "dedup_cross_split_leakage",
    oracle="""
    WITH toks AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx,
             string_split(text, ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, hx,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks),
    dfc AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 10),
    train_g AS (
      SELECT DISTINCT gr.g FROM grams gr JOIN dfc USING (g)
      WHERE gr.hx NOT IN ('c', 'd', 'e', 'f')),
    ev_hits AS (
      SELECT gr.doc_id, count(DISTINCT gr.g) AS n
      FROM grams gr JOIN dfc USING (g) JOIN train_g USING (g)
      WHERE gr.hx IN ('c', 'd', 'e', 'f')
      GROUP BY gr.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_leaked_trigrams,
           CAST(coalesce(h.n, 0) > 0 AS INTEGER) AS leaked
    FROM (SELECT doc_id FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                IN ('c', 'd', 'e', 'f')) d
    LEFT JOIN ev_hits h USING (doc_id)
    """,
)
def dedup_cross_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval leakage audit for a HASH-DERIVED split - the QA gate a
    training pipeline runs after sharding: the md5-digit split
    (sample_hash_det's spelling: digits c-f = the ~25% eval side) must not
    share rare content with the train side, or eval metrics are
    contaminated.  Per eval document, counts the distinct RARE trigrams
    (document frequency <= 10) it shares with any train document.

    The df cap is what makes this scale: boilerplate trigrams appearing in
    hundreds of documents carry no leakage signal but dominate the join
    volume (a plain trigram join is df-squared in the hot grams) - capping
    df bounds every gram's join fan-out, the same move dedup_winnowing
    makes.  Both gram sets are corpus-proportional, so the gram joins are
    plain shuffled equi-joins on the gram key, never broadcast; the split
    predicate is a pure column expression so each side prunes at scan
    time."""
    d = load(spark, sf, "documents")
    toks = F.col("toks")
    n2 = F.greatest(F.size(toks) - 2, F.lit(0))
    trigrams = F.array_distinct(
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, n2),
                F.slice(toks, 2, n2),
                lambda x, y: F.concat_ws(" ", x, y),
            ),
            F.slice(toks, 3, n2),
            lambda xy, z: F.concat_ws(" ", xy, z),
        )
    )
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_eval = hx.isin("c", "d", "e", "f")
    grams = (
        d.select("doc_id", is_eval.alias("ev"), F.split("text", " ").alias("toks"))
        .select("doc_id", "ev", F.explode(trigrams).alias("g"))
    )
    rare = grams.groupBy("g").count().filter(F.col("count") <= 10).select("g")
    rare_grams = grams.join(rare, "g")
    train_g = rare_grams.filter(~F.col("ev")).select("g").distinct()
    ev_hits = (
        rare_grams.filter(F.col("ev"))
        .join(train_g, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n"))
    )
    return (
        d.filter(is_eval)
        .select("doc_id")
        .join(ev_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_leaked_trigrams"),
            (F.coalesce("n", F.lit(0)) > 0).cast("int").alias("leaked"),
        )
    )


@query(
    "sim_maxsim_multivector",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE label = 0 AND embedding IS NOT NULL
      ORDER BY vec_id LIMIT 32),
    d AS (
      SELECT label, embedding::DOUBLE[] AS dv
      FROM embeddings WHERE label <> 0),
    pm AS (
      SELECT d.label, q.qid,
             CAST(floor(max(list_dot_product(d.dv, q.qv)
                   / (sqrt(list_dot_product(d.dv, d.dv))
                      * sqrt(list_dot_product(q.qv, q.qv))))
                  * 1000000.0 + 0.5) AS BIGINT) AS m
      FROM d CROSS JOIN q
      GROUP BY d.label, q.qid)
    SELECT label,
           CAST(sum(m) AS BIGINT) AS maxsim_micro,
           CAST(count(*) AS BIGINT) AS n_query_vecs
    FROM pm GROUP BY label
    """,
)
def sim_maxsim_multivector(spark: SparkSession, sf: str) -> DataFrame:
    """Late-interaction multi-vector retrieval (ColBERT-style MaxSim,
    Khattab & Zaharia SIGIR'20): the label-0 vector set is the QUERY's
    token embeddings; every other label group is a candidate document's
    token set; score(doc) = sum over query tokens of the best cosine in
    the doc group.  The query side is tiny by construction (one query's
    tokens) and BROADCAST; the per-(doc, query-token) max is a partial
    agg that collapses each doc group map-side before any shuffle, so
    the only shuffled rows are |docs| x |query tokens| maxima - at 100 TB
    the doc side stays embarrassingly partition-parallel and the scale
    lever is the same IVF/PQ pruning as single-vector search (probe only
    cells near any query token).  Per-token maxima are floored to micro
    ints BEFORE the cross-token sum (floor is monotone, so max-then-
    floor = floor-then-max), keeping the final sum order-independent
    and bit-identical to the oracle.

    Since r11 the query set is the 32 LOWEST-vec_id label-0 vectors: a
    ColBERT query is a bounded token set (<= 32 in the paper), but the
    fixture's label-0 GROUP grows with the corpus, and the growth ledger
    measured the uncapped spelling at exponent 1.95 (181 s at sf1) -
    N x N/L is quadratic however it is spelled.  The cap restores the
    operator's own contract (bounded query side, broadcast) and the
    measured linear growth."""
    e = load(spark, sf, "embeddings")
    q = (
        e.filter((F.col("label") == 0) & F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(32)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    d = e.filter(F.col("label") != 0).select(
        "label", F.col("embedding").alias("dv")
    )
    cos = _cos_or_null(F.col("dv"), F.col("qv"))
    pm = (
        _spread(d, "label")
        .crossJoin(F.broadcast(q))
        .select("label", "qid", cos.alias("cos"))
        .groupBy("label", "qid")
        .agg(F.floor(F.max("cos") * 1000000.0 + 0.5).alias("m"))
    )
    return pm.groupBy("label").agg(
        F.sum("m").alias("maxsim_micro"),
        F.count("*").alias("n_query_vecs"),
    )


@query(
    "sim_bm25_topk",
    oracle="""
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
    hits AS (
      SELECT t.doc_id,
             CAST(floor(
               ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * d.len
                                 / (s.sumlen * 1.0 / s.n_docs)))
               * 1000000.0 + 0.5) AS BIGINT) AS s_micro
      FROM tf t
      JOIN q ON t.token = q.token
      JOIN df f ON f.token = t.token
      JOIN dl d ON d.doc_id = t.doc_id
      CROSS JOIN stats s
      WHERE t.doc_id <> 0)
    SELECT doc_id,
           CAST(sum(s_micro) AS BIGINT) AS bm25_micro,
           CAST(count(*) AS BIGINT) AS n_matched_terms
    FROM hits GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id
    LIMIT 10
    """,
)
def sim_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson-Sparck Jones; k1=1.2, b=0.75) -
    the sparse half of every hybrid search stack, next to the dense half
    (sim_cosine_topk / sim_maxsim_multivector): doc 0's token set is the
    query; candidates score sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b +
    b*len/avglen)).  The inverted-index shape: ONE explode builds tf
    (map-side combined), df and doclen derive from tf/tok aggs, the
    query-term probe is an equi join on token against the tf postings -
    exactly how a 100 TB BM25 runs (postings partitioned by term, query
    terms broadcast), never a doc x doc product.  The corpus stats
    (N, sumlen) ride a broadcast 1-row cross join.  Per-term partial
    scores are floored to micro ints BEFORE the per-doc sum, so ranking
    and scores are bit-identical to the oracle; top-10 ties break on
    doc_id."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("len").alias("sumlen")
    )
    q = tok.filter(F.col("doc_id") == 0).select("token").distinct()
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    avglen = F.col("sumlen") * 1.0 / F.col("n_docs")
    s = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("len") / avglen)
    )
    hits = (
        tf.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q), "token")
        .join(df, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.floor(s * 1000000.0 + 0.5).alias("s_micro"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum("s_micro").alias("bm25_micro"),
            F.count("*").alias("n_matched_terms"),
        )
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(10)
    )


def _mmr_oracle(k: int = 5, lam: float = 0.7, pool_n: int = 20) -> str:
    """Unrolled greedy MMR in SQL: the pool CTE reproduces the Spark
    relevance scan, then k chained CTEs each pick the argmax of
    lam*rel - (1-lam)*max-sim-to-selected over the not-yet-selected pool
    (correlated max over the union of prior picks).  Greedy is sequential
    by definition - but k is a LITERAL, so 'sequential' unrolls into k
    CTEs; every float op (fold dots, IEEE sqrt, the exact '1.0 - 0.7'
    literal) mirrors the Python driver loop op-for-op, so selections and
    scores are bit-identical."""

    def cos(a: str, b: str) -> str:
        return (
            f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)})"
            f" * sqrt({_sql_dot(b, b)})))"
        )

    def pr6(x: str) -> str:
        return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"

    ctes = [
        f"""v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id <> 0 AND embedding IS NOT NULL),
    probe AS (SELECT embedding::DOUBLE[] AS p FROM embeddings
              WHERE vec_id = 0 AND embedding IS NOT NULL),
    pool AS (
      SELECT v.vec_id, v.label, v.e, {cos('v.e', 'p.p')} AS rel
      FROM v, probe p
      ORDER BY rel DESC, vec_id LIMIT {pool_n})"""
    ]
    for r in range(1, k + 1):
        if r == 1:
            ctes.append(
                f"s1 AS (\n      SELECT p.vec_id, p.label, p.e, p.rel,"
                f" {lam} * p.rel - (1.0 - {lam}) * 0.0 AS score\n"
                f"      FROM pool p\n"
                f"      ORDER BY score DESC, p.vec_id LIMIT 1)"
            )
            continue
        sel_union = " UNION ALL ".join(
            f"SELECT vec_id, e FROM s{i}" for i in range(1, r)
        )
        ctes.append(f"sel{r} AS ({sel_union})")
        # max-sim-to-selected via a tiny cross join + GROUP BY (a
        # correlated scalar subquery cannot carry the outer row's list
        # column into a lambda in DuckDB's binder)
        ctes.append(
            f"sc{r} AS (\n      SELECT p.vec_id, p.label, p.e, p.rel,"
            f" max({cos('p.e', 's.e')}) AS red\n"
            f"      FROM pool p, sel{r} s\n"
            f"      WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{r})\n"
            f"      GROUP BY p.vec_id, p.label, p.e, p.rel)"
        )
        ctes.append(
            f"s{r} AS (\n      SELECT vec_id, label, e, rel,"
            f" {lam} * rel - (1.0 - {lam}) * red AS score\n"
            f"      FROM sc{r}\n"
            f"      ORDER BY score DESC, vec_id LIMIT 1)"
        )
    final = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, vec_id, label,"
        f" {pr6('rel')} AS relevance, {pr6('score')} AS mmr_score FROM s{r}"
        for r in range(1, k + 1)
    )
    return "\n    WITH " + ",\n    ".join(ctes) + "\n    " + final


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein,
    SIGIR'98) - the diversity pass every RAG retriever runs after ANN:
    fetch a candidate pool by relevance (distributed brute-force cosine
    vs the broadcast probe, same plan as sim_cosine_topk), then greedily
    pick k results maximizing lambda*rel - (1-lambda)*max-sim-to-already-
    selected.  The greedy phase is sequential BY DEFINITION, so it runs
    driver-side over the BOUNDED candidate pool (20 vectors x 64 dims -
    the same bounded-collect posture as the IVF centroid build,
    llm.py; the distributed work - scoring the full corpus - happened in
    the pool query).  At 100 TB only the pool query scales; the rerank
    cost is O(k * pool) regardless of corpus size.  Deterministic:
    python floats on canonically-ordered candidates, ties broken by
    vec_id."""
    e = load(spark, sf, "embeddings")
    # NULL-embedding probe row == no probe (oracle guard parity, ADVICE r8)
    probe = e.filter(
        (F.col("vec_id") == 0) & F.col("embedding").isNotNull()
    ).select(F.col("embedding").cast("array<double>").alias("qv"))
    cand = (
        e.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull())
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
            _cos_or_null(F.col("embedding"), F.col("qv")).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(20)
    )
    rows = cand.collect()  # bounded: 20 candidates x 64 dims

    import math

    def cos(a, b):
        # left-fold sums + math.sqrt == the engines' fold + IEEE sqrt
        # (x ** 0.5 would be pow(), which may differ from sqrt by an ulp).
        # Zero-norm vectors yield None == SQL NULL (the _cos_or_null
        # contract): NULL cosines vanish from SQL max() and NULL scores
        # sort after every real score under DESC NULLS LAST.
        na2 = sum(x * x for x in a)
        nb2 = sum(x * x for x in b)
        if na2 == 0.0 or nb2 == 0.0:
            return None
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(na2) * math.sqrt(nb2))

    lam, k = 0.7, 5
    pool = [
        (r["vec_id"], r["label"], list(r["v"]),
         None if r["rel"] is None else float(r["rel"]))
        for r in rows
    ]
    selected = []
    while pool and len(selected) < k:
        best = None
        for vid, lab, v, rel in pool:
            reds = [
                c
                for _, _, sv, _, _ in selected
                if (c := cos(v, sv)) is not None
            ]
            if reds:
                red = max(reds)  # SQL max() skips NULLs
            elif selected:
                red = None  # all-NULL max is NULL in SQL
            else:
                red = 0.0
            score = (
                None
                if rel is None or red is None
                else lam * rel - (1.0 - lam) * red
            )
            # NULL scores order after every real score (DESC NULLS LAST)
            key = (1, vid) if score is None else (0, -score, vid)
            if best is None or key < best[0]:
                best = (key, (vid, lab, v, rel), score)
        selected.append(best[1] + (best[2],))
        pool = [p for p in pool if p[0] != best[1][0]]
    out = [
        # pround spelling, NOT python round() (round-half-even would
        # diverge from the oracle's floor(x*1e6+0.5) at half-boundaries)
        (
            i + 1,
            vid,
            lab,
            None if rel is None else math.floor(rel * 1000000.0 + 0.5) / 1000000.0,
            None
            if score is None
            else math.floor(score * 1000000.0 + 0.5) / 1000000.0,
        )
        for i, (vid, lab, _v, rel, score) in enumerate(selected)
    ]
    return local_frame(
        spark,
        out,
        "rank int, vec_id long, label int, relevance double, mmr_score double",
    )


def _two_stage_oracle() -> str:
    # hot-bucket stop-band rule shared with minhash_verified_pairs_ctes
    # (_MH_BUCKET_CAP, round 8); unit tests patch the cap to cross-check
    # the hot branch on tiny clique fixtures (ADVICE r8)
    hot_ctes = ",\n    ".join(
        f"hot{b} AS (SELECT band{b} AS s FROM banded "
        f"GROUP BY band{b} HAVING count(*) > {_MH_BUCKET_CAP})"
        for b in range(_MH_BANDS)
    )
    cand_unions = "\n      UNION\n      ".join(
        f"SELECT x.rep AS doc_a, y.rep AS doc_b, x.n_copies AS na,"
        f" y.n_copies AS nb FROM banded x "
        f"JOIN banded y ON x.band{b} = y.band{b} AND x.rep < y.rep "
        f"WHERE x.band{b} NOT IN (SELECT s FROM hot{b})"
        for b in range(_MH_BANDS)
    )
    star_unions = "\n      UNION\n      ".join(
        f"SELECT doc_a, doc_b, na, nb FROM ("
        f"SELECT (min({{'r': rep, 'nc': n_copies}}) OVER w).r AS doc_a,"
        f" rep AS doc_b,"
        f" (min({{'r': rep, 'nc': n_copies}}) OVER w).nc AS na,"
        f" n_copies AS nb "
        f"FROM banded WHERE band{b} IN (SELECT s FROM hot{b}) "
        f"WINDOW w AS (PARTITION BY band{b})) "
        f"WHERE doc_a <> doc_b"
        for b in range(_MH_BANDS)
    )
    cand_unions = cand_unions + "\n      UNION\n      " + star_unions
    return f"""
    WITH g AS (
      SELECT md5(text) AS h, min(doc_id) AS rep,
             CAST(count(*) AS BIGINT) AS n_copies,
             min(text) AS text
      FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT rep, n_copies,
             list_distinct(string_split(text, ' ')) AS tokens
      FROM g),
    hk AS (
      SELECT rep, n_copies,
             list_transform(tokens, tk -> hash(tk)) AS th
      FROM toks),
    banded AS (
      SELECT rep, n_copies, {_minhash_band_sql()}
      FROM toks),
    {hot_ctes},
    cand AS (
      {cand_unions}),
    j AS (
      SELECT c.doc_a, c.doc_b, c.na, c.nb,
             CAST(len(list_intersect(a.th, b.th)) AS DOUBLE)
               / len(list_distinct(list_concat(a.th, b.th))) AS jac
      FROM cand c
      JOIN hk a ON a.rep = c.doc_a
      JOIN hk b ON b.rep = c.doc_b)
    SELECT doc_a, doc_b, na AS copies_a, nb AS copies_b,
           floor(jac * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM j WHERE jac >= 0.8
    """


@query("dedup_two_stage", oracle=_two_stage_oracle())
def dedup_two_stage(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION dedup composition: exact dedup FIRST (hash-group to
    one representative per distinct text, carrying its copy count), THEN
    minhash LSH over the unique texts only - the stage order
    C4/RefinedWeb and every serious corpus pipeline use, because an
    exact-dup cluster of n docs otherwise inflates the pairwise stage by
    n^2 identical pairs while collapsing to ONE node here, with
    n_copies preserved so downstream weighting still sees the mass.
    Honest fixture note: THIS corpus's duplicate clusters are near-dups
    with distinct byte content (500/500 unique texts at sf0.01, 8 exact
    collapses at sf0.1), so the big n^2 saving does not manifest at
    small SF - the operator's value here is the copy-count-weighted
    near-dup ledger and the composition contract itself, both oracled.
    Design notes live on _banded_pairs (the candidate+verify join shared
    with dedup_minhash_lsh) and _two_stage_pairs_plan (the
    un-checkpointed builder, the _*_plan split pattern - plan tests
    inspect it).  This
    wrapper stores the checkpointed ledger per (application, sf) in the
    artifact store, like _minhash_verified_pairs: a corpus's verified
    rep-pair index is deterministic, computed once and reused by every
    downstream weighting step; rebuilding it re-ran the four verify
    joins on every invocation, the dominant warm cost at sf1 once the
    signature family was shared."""
    return artifacts.memo(
        spark, sf, "two_stage_pairs",
        lambda: _two_stage_pairs_plan(spark, sf).localCheckpoint(eager=False),
    )


def _two_stage_pairs_plan(spark: SparkSession, sf: str) -> DataFrame:
    """dedup_two_stage's un-checkpointed pair plan: the md5 exact-group
    stage, then _banded_pairs over the group representatives (rep as
    doc_id, carrying n_copies) - the same candidate+verify join, hot-bucket
    rule and join regimes as dedup_minhash_lsh (the exact-dedup stage
    does NOT collapse near-dup cliques, so the boilerplate-signature
    pathology reaches this join too).  Shuffles: the exact-group and the
    band probes - all hash-keyed."""
    d = load(spark, sf, "documents")
    g = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_copies"),
    )
    # signatures come from the shared per-app frame (VERDICT r14 item 5:
    # this stage previously re-ran the hash family over the unique texts
    # that dedup_minhash_lsh had already signed): a rep's signature IS
    # the shared frame's row for doc_id = rep, since every doc in an md5
    # group carries the identical text and the signature depends only on
    # the text.  One int equi-join replaces ~|unique| x _MH_K hash folds.
    reps = (
        g.join(_minhash_signatures(spark, sf), "doc_id")
        .select(
            "doc_id", "th", "n_tok", *[f"band{b}" for b in range(_MH_BANDS)], "n_copies"
        )
        .localCheckpoint(eager=False)
    )
    return _banded_pairs(reps, sf, carry=("n_copies",)).select(
        "doc_a",
        "doc_b",
        F.col("n_copies_a").alias("copies_a"),
        F.col("n_copies_b").alias("copies_b"),
        pround("jac", 4).alias("jaccard"),
    )


def _lsh_recall_oracle() -> str:
    # the lsh CTE recomputes dedup_minhash_lsh's pair set, so it carries
    # the SAME hot-bucket stop-band rule (_MH_BUCKET_CAP, round 8; one
    # _mh_cand_ctes text with the LSH oracle chain) - the
    # audit's n_lsh/n_common then measure the cap's recall cost against
    # the uncapped blocked exact reference
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_transform(list_distinct(string_split(text, ' ')),
                            tk -> hash(tk)) AS tokens
      FROM documents),
    banded AS (
      SELECT doc_id, {_minhash_band_sql(over="raw")}
      FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS raw
            FROM documents)),
    {_mh_cand_ctes()},
    lsh AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN toks a ON a.doc_id = c.doc_a
      JOIN toks b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
            / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.8),
    exact AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM toks a JOIN toks b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
            / len(list_distinct(list_concat(a.tokens, b.tokens))) >= 0.8)
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact_blocked,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM exact e
                 JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
                AS BIGINT) AS n_common,
           CAST((SELECT count(*) FROM exact) -
                (SELECT count(*) FROM exact e
                 JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
                AS BIGINT) AS n_edges_lost,
           -- empty exact reference: recall undefined -> NULL, never 0/0
           -- (multibyte sweep, round 8)
           CAST(((SELECT count(*) FROM exact e
                  JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
                 * 1000000)
                // nullif((SELECT count(*) FROM exact), 0)
                AS BIGINT) AS recall_micro
    """


@query("dedup_lsh_recall_audit", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Index-quality audit for the LSH dedup path: measured RECALL of
    dedup_minhash_lsh's verified pairs against the blocked exact
    pairwise reference (dedup_near_jaccard's (lang, source) blocks, the
    set a pipeline can afford to compute exactly) - the number you
    check BEFORE trusting banding parameters at 100 TB, where the
    S-curve math (1-(1-s^r)^b) is a model and this is the measurement.
    LSH legitimately finds cross-block pairs too (n_lsh > n_exact is
    expected, not false positives - every reported pair is
    Jaccard-verified); recall counts only the blocked reference the two
    spellings share.  Implementation literally CALLS the two registered
    builders and joins their outputs - the audit can never drift from
    what the audited queries actually do; since both are md5-portable,
    the whole audit is DuckDB-oracled end to end."""
    exact = dedup_near_jaccard(spark, sf).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    n_exact = exact.agg(F.count("*").alias("n_exact_blocked"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    n_common = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_common")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_common))
        .select(
            "n_exact_blocked",
            "n_lsh",
            "n_common",
            # the edges the banding LOSES vs the blocked exact reference -
            # since round 7 dedup_cluster_components clusters over the LSH
            # edge set, so this is the audited cost of that swap (VERDICT
            # r6 item 2): edges absent from the graph can only ever SPLIT
            # components, never merge them, and this row bounds how many
            (F.col("n_exact_blocked") - F.col("n_common")).alias("n_edges_lost"),
            # empty exact reference: recall undefined -> NULL, never 0/0
            # (multibyte sweep, round 8)
            F.expr(
                "CAST((n_common * 1000000) div nullif(n_exact_blocked, 0)"
                " AS BIGINT)"
            ).alias("recall_micro"),
        )
    )


# ---------------------------------------------------------------------------
# model-based quality filtering + corpus novelty (round 9)
# ---------------------------------------------------------------------------

_QC_B = 256  # hashed unigram feature buckets for the quality classifier


@query(
    "pipeline_quality_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT t.doc_id, t.lang, t.source,
             CAST(('0x' || substr(md5(t.toks[r.i]), 1, 6)) AS BIGINT)
               % {_QC_B} AS bucket
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks) + 1)) AS i) r),
    seed AS (
      SELECT bucket,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos_c,
             CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT)
               AS neg_c
      FROM g WHERE source IN ('src0', 'src2') GROUP BY bucket),
    tot AS (
      SELECT coalesce(CAST(sum(pos_c) AS BIGINT), 0) AS pn,
             coalesce(CAST(sum(neg_c) AS BIGINT), 0) AS nn
      FROM seed),
    w AS (
      SELECT b.bucket,
             CAST(floor(ln(((coalesce(seed.pos_c, 0) + 1) * (tot.nn + {_QC_B}))
                   / CAST((coalesce(seed.neg_c, 0) + 1) * (tot.pn + {_QC_B})
                          AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT) AS w
      FROM (SELECT unnest(range(0, {_QC_B})) AS bucket) b
      LEFT JOIN seed USING (bucket), tot)
    SELECT g.doc_id, g.lang,
           CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(w.w) AS BIGINT) AS score_micro,
           CAST(CASE WHEN sum(w.w) > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS predicted_hq
    FROM g JOIN w USING (bucket)
    GROUP BY g.doc_id, g.lang
    """,
)
def pipeline_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering, the CCNet / GPT-3 / LLaMA curation
    step (Wenzek et al. 2020 train a fastText classifier on Wikipedia-vs-
    crawl; Brown et al. 2020 filter CommonCrawl by a quality classifier
    trained on curated positives): train a Naive-Bayes linear model on
    SEED-labeled documents (source='src0' plays the curated positive set,
    'src2' the raw-crawl negative), then score EVERY document - the
    train-on-a-slice / apply-to-the-corpus split that distinguishes this
    from pipeline_importance_dsir's unsupervised importance ratio.

    Features are md5-bucketed unigrams ({_QC_B} buckets, the
    pipeline_feature_hashing discipline - vocabulary-free, fixed model
    size); bucket weights are the NB log-odds
    ln((pos+1)(N+B) / ((neg+1)(P+B))), add-one smoothed, floored to
    integer micro-nats PER BUCKET (the js_divergence / DSIR discipline:
    per-doc sums stay order-independent integers, bit-identical
    cross-engine).  The weight table is built DENSE over all {_QC_B}
    buckets, so a bucket unseen in training scores its smoothed prior
    ln((N+B)/(P+B)) instead of silently dropping the token - and the
    scoring join is a plain inner equi-join against a fixed-size dim.
    The classifier bias folds into the keep threshold (score > 0).

    Plan shape (the DSIR posture): one map-side token-hash explode feeds
    the seed-count agg (<= {_QC_B} rows, combinable) and the scoring
    join; the dense weight dim ({_QC_B} rows, corpus-size-independent)
    BROADCASTS onto the gram stream; per-doc integer sums are the only
    data-sized shuffle.  At 100 TB the trained model is persisted between
    the two passes, exactly as the broadcast stands in for."""
    d = load(spark, sf, "documents")
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", "source", F.split("text", " ").alias("tk")
    )
    grams = base.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.expr(
                f"transform(tk, t -> CAST(conv(substring(md5(t), 1, 6),"
                f" 16, 10) AS BIGINT) % {_QC_B})"
            )
        ).alias("bucket"),
    )
    seed = (
        grams.filter(F.col("source").isin("src0", "src2"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("pos_c"),
            F.sum(F.when(F.col("source") == "src2", 1).otherwise(0)).alias("neg_c"),
        )
    )
    tot = seed.agg(
        F.coalesce(F.sum("pos_c"), F.lit(0)).alias("pn"),
        F.coalesce(F.sum("neg_c"), F.lit(0)).alias("nn"),
    )
    dense = spark.range(_QC_B).select(F.col("id").alias("bucket"))
    w = (
        dense.join(seed, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(
                F.log(
                    ((F.coalesce("pos_c", F.lit(0)) + 1) * (F.col("nn") + _QC_B))
                    / ((F.coalesce("neg_c", F.lit(0)) + 1) * (F.col("pn") + _QC_B))
                    .cast("double")
                )
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("w"),
        )
    )
    return (
        grams.join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_toks"), F.sum("w").alias("score_micro"))
        .select(
            "doc_id",
            "lang",
            "n_toks",
            "score_micro",
            F.when(F.col("score_micro") > 0, 1).otherwise(0).cast("int").alias(
                "predicted_hq"
            ),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS trigrams
      FROM t),
    g AS (SELECT doc_id, unnest(trigrams) AS g FROM d),
    first_seen AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
    per_doc AS (
      SELECT g.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT)
               AS n_novel
      FROM g JOIN first_seen f USING (g) GROUP BY g.doc_id)
    SELECT d.doc_id,
           coalesce(p.n_grams, 0) AS n_grams,
           coalesce(p.n_novel, 0) AS n_novel,
           CAST(CASE WHEN p.n_grams IS NULL THEN 0
                     ELSE floor(p.n_novel * 1000000.0 / p.n_grams) END
                AS BIGINT) AS novelty_ppm
    FROM d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram novelty against everything BEFORE it in corpus
    order - the dataset-curation curve behind 'how much new text does
    each increment add' decisions (the marginal-value dual of
    text_heaps_law's vocabulary curve, at trigram grain): a document's
    novelty is the fraction of its distinct trigrams whose globally
    FIRST occurrence (lowest doc_id) is the document itself.  Late
    boilerplate scores ~0; the first copy of a template scores high -
    which is exactly the asymmetry dedup keep-rules exploit.

    Plan: map-side distinct-trigram explode (the dedup_decontaminate
    zip_with spelling - no per-element re-evaluation of the token
    array) -> groupBy(gram) min(doc_id) (combinable partial agg - the
    text_heaps_law first-seen discipline) -> hash equi-join back onto
    the gram stream (1:1 per occurrence, AQE-splittable on hot
    boilerplate grams) -> per-doc counts, LEFT-joined onto the doc base
    so sub-3-token documents report 0 grams / 0 ppm instead of
    vanishing (the decontaminate degenerate-corpus lesson)."""
    d = load(spark, sf, "documents")
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    n2 = F.greatest(F.size(toks) - 2, F.lit(0))
    trigrams = F.array_distinct(
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, n2),
                F.slice(toks, 2, n2),
                lambda x, y: F.concat_ws(" ", x, y),
            ),
            F.slice(toks, 3, n2),
            lambda xy, z: F.concat_ws(" ", xy, z),
        )
    )
    grams = base.select("doc_id", F.explode(trigrams).alias("g"))
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(F.col("n_grams").isNull(), F.lit(0))
            .otherwise(F.floor(F.col("n_novel") * 1000000.0 / F.col("n_grams")))
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


def _ivf_nprobe_curve_oracle(topk: int = 10, probes: tuple = (1, 2, 4, 6)) -> str:
    # same build CTEs + brute-force reference as _ivf_recall_oracle; the
    # probe's cells are RANKED once (prank) and each curve point scans the
    # rk <= nprobe prefix
    cos = (
        f"{_sql_dot('v.e', 'p.p')}"
        f" / (sqrt({_sql_dot('v.e', 'v.e')}) * sqrt({_sql_dot('p.p', 'p.p')}))"
    )
    sq = (
        "list_sum(list_transform(range(1, 65),"
        " i -> (p.pq[i] - c.c[i]) * (p.pq[i] - c.c[i])))"
    )
    ivf_blocks = ",\n    ".join(
        f"ivf{np} AS (SELECT vec_id FROM scan WHERE cell IN"
        f" (SELECT cell FROM prank WHERE rk <= {np})"
        f" ORDER BY cos DESC, vec_id LIMIT {topk})"
        for np in probes
    )
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({np} AS BIGINT) AS nprobe,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM exact e JOIN ivf{np} i USING (vec_id))
                AS BIGINT) AS n_common,
           CAST((SELECT count(*) FROM exact) -
                (SELECT count(*) FROM exact e JOIN ivf{np} i USING (vec_id))
                AS BIGINT) AS n_missed,
           CAST(((SELECT count(*) FROM exact e JOIN ivf{np} i USING (vec_id))
                 * 1000000)
                // nullif((SELECT count(*) FROM exact), 0)
                AS BIGINT) AS recall_micro"""
        for np in probes
    )
    return f"""
    WITH {_ivf_oracle_ctes()},
    prank AS (
      SELECT c.cell, row_number() OVER (ORDER BY {sq}, c.cell) AS rk
      FROM cent2 c, probe p),
    scan AS (
      SELECT a.cell, v.vec_id, {cos} AS cos
      FROM assigned a JOIN v USING (vec_id), probe p),
    exact AS (
      SELECT v.vec_id FROM v, probe p
      ORDER BY {cos} DESC, v.vec_id LIMIT {topk}),
    {ivf_blocks}
    {rows}
    """


@query("sim_ivf_nprobe_curve", oracle=_ivf_nprobe_curve_oracle())
def sim_ivf_nprobe_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Recall-vs-nprobe tuning curve for the IVF ANN path: recall@10
    against the exact brute force at nprobe in {1, 2, 4, 6} - the
    measurement that DECIDES the (k_cells, nprobe) operating point
    before anyone trusts "nprobe/K of the data" at 100 TB
    (sim_ivf_recall_audit measures the chosen point; this measures the
    curve the choice came from, completing the audit family: LSH has
    its banding audit, IVF its operating point AND its curve).

    One index build (the cached deterministic k-means shared with
    sim_ivf_topk / dedup_semdedup), one cosine projection over the
    corpus; each curve point filters to the rk <= nprobe prefix of the
    probe's cell ranking - at scale each point is partition pruning at
    a different width over the SAME scan, never a rebuild.  Probe-less
    corpus (empty tables, NULL probe embedding): four rows of zero
    counts with NULL recall (0/0 undefined), exactly as the oracle's
    scalar subqueries degrade."""
    k_cells, topk, probes = 16, 10, (1, 2, 4, 6)
    e = load(spark, sf, "embeddings")
    p = _probe_or_none(e)
    if p is None:
        return local_frame(
            spark,
            [(int(np), 0, 0, 0, None) for np in probes],
            "nprobe long, n_exact long, n_common long, n_missed long,"
            " recall_micro long",
        )
    v = F.col("embedding").cast("array<double>")
    vecs = e.filter(
        (F.col("vec_id") != 0) & F.col("embedding").isNotNull()
    ).select("vec_id", "label", v.alias("v"), _vq_col(v).alias("vq"))
    cent_rows = _ivf_centroid_rows(spark, sf, vecs, k_cells)
    ranked = _ivf_probe_cells(p, cent_rows, k_cells)  # full cell ranking
    idx = _ivf_index(spark, sf, vecs, cent_rows).select("vec_id", "cell", "v")
    p_lit = F.array(*[F.lit(float(x)) for x in p])
    # the four curve points and the recall joins are FIVE consumers of the
    # same two frames; without a lineage cut each union branch re-ran the
    # whole cosine projection (4x) and the exact brute-force top-10 (5x)
    # inside the one final action.  Both lazy checkpoints materialize once:
    # `scan` is 3 narrow columns per vector, `exact` is the 10-row answer.
    scan = idx.select(
        "vec_id", "cell", _cos_or_null(F.col("v"), p_lit).alias("_cos")
    ).localCheckpoint(eager=False)
    exact = (
        sim_cosine_topk(spark, sf).select("vec_id").localCheckpoint(eager=False)
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    points = []
    for np_ in probes:
        top = (
            scan.filter(F.col("cell").isin(ranked[:np_]))
            .orderBy(F.desc("_cos"), F.asc("vec_id"))
            .limit(topk)
            .select("vec_id")
        )
        nc = exact.join(top, "vec_id").agg(F.count("*").alias("n_common"))
        points.append(
            n_exact.crossJoin(F.broadcast(nc)).select(
                F.lit(np_).cast("long").alias("nprobe"), "n_exact", "n_common"
            )
        )
    out = points[0]
    for pt in points[1:]:
        out = out.unionAll(pt)
    return out.select(
        "nprobe",
        "n_exact",
        "n_common",
        (F.col("n_exact") - F.col("n_common")).alias("n_missed"),
        F.expr(
            "CAST((n_common * 1000000) div nullif(n_exact, 0) AS BIGINT)"
        ).alias("recall_micro"),
    )


@query(
    "text_bigram_perplexity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
    g AS (
      SELECT doc_id, toks[r.i] AS w1, toks[r.i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) r),
    big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
            FROM g GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM g GROUP BY w1),
    uni AS (SELECT w2, CAST(count(*) AS BIGINT) AS nu FROM g GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM g),
    nll AS (
      SELECT g.doc_id,
             CAST(floor(-ln(0.75 * (big.n12 / CAST(ctx.n1 AS DOUBLE))
                            + 0.25 * (uni.nu / CAST(tot.tt AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS micro_nll
      FROM g
      JOIN big USING (w1, w2)
      JOIN ctx USING (w1)
      JOIN uni USING (w2)
      CROSS JOIN tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor((sum(micro_nll) / 1000000.0 / count(*)) * 10000.0 + 0.5)
             / 10000.0 AS avg_nll,
           floor(exp(sum(micro_nll) / 1000000.0 / count(*)) * 100.0 + 0.5)
             / 100.0 AS ppl
    FROM nll GROUP BY doc_id
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram-LM perplexity per document - the model-class
    step from text_perplexity_proxy's unigram toward CCNet's 5-gram
    KenLM filter (Wenzek et al. 2020): P(w2|w1) = 0.75 * ML(w2|w1)
    + 0.25 * P_uni(w2), the Jelinek-Mercer mixture, so an unseen-in-
    context-but-common token is cheap while a genuinely rare token
    stays expensive - repetitive boilerplate now scores LOW (its
    bigrams are predictable) where the unigram proxy cannot see order
    at all.

    Cross-engine float discipline (the win_ewma_smooth rule): the
    mixture is two exact-integer ratios combined with identical
    literals in identical order, one IEEE op per step; the NLL is then
    floored to integer micro-nats per gram BEFORE the per-doc sum
    (order-independent integers, the perplexity-proxy rule).

    Plan: ONE bigram explode (lazily localCheckpoint-materialized -
    four consumers: bigram/context/unigram models + scoring join, the
    doremi one-explode discipline); the three model tables are
    vocabulary-bounded, far smaller than the gram stream, so the
    scoring side is three hash equi-joins that AQE broadcast-sizes at
    fixture scale and shuffle-partitions at 100 TB (the bigram
    vocabulary outgrows any broadcast; its join key (w1, w2) is
    high-cardinality and skew-benign)."""
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
    ctx = g.groupBy("w1").agg(F.count("*").alias("n1"))
    uni = g.groupBy("w2").agg(F.count("*").alias("nu"))
    tot = g.agg(F.count("*").alias("tt"))
    p_mix = (
        F.lit(0.75) * (F.col("n12") / F.col("n1").cast("double"))
        + F.lit(0.25) * (F.col("nu") / F.col("tt").cast("double"))
    )
    micro = F.floor(-F.log(p_mix) * 1000000.0 + F.lit(0.5)).cast("long")
    # r15 negative result, kept as the measured reason this stays the
    # three-probe spelling: folding the mixture weight onto the bigram
    # model first (big JOIN ctx JOIN uni, then ONE (w1, w2) scoring join)
    # looks like the quality-classifier discipline, but the static
    # planner sized the three-way model chain ABOVE the checkpointed gram
    # stream and built the BroadcastHashJoin on the CORPUS side
    # (BuildLeft over the ExistingRDD scan) - 1.23 -> 1.99 s at sf0.1,
    # and a broadcast-the-corpus plan at 100 TB.  Each atomic model agg
    # below keeps a sane estimate and broadcasts as the build side.
    nll = (
        g.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", micro.alias("micro_nll"))
    )
    avg_nll = F.sum("micro_nll") / F.lit(1e6) / F.count("*")
    return nll.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        pround(avg_nll, 4).alias("avg_nll"),
        pround(F.exp(avg_nll), 2).alias("ppl"),
    )


@query(
    "text_readability",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             -- whitespace-robust token count (ADVICE r9): split on runs of
             -- space/tab/newline and drop empty tokens, so consecutive /
             -- leading / trailing separators never count as words; the
             -- identical spelling runs on the Spark side
             CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n]+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             -- case-fold via translate (ADVICE r9): Java full case mapping
             -- and utf8proc simple mapping can disagree on special-casing
             -- codepoints (e.g. U+0130); translate is char-for-char with
             -- no locale on both engines, and only ASCII letters matter to
             -- the [aeiouy] vowel scan
             CAST(len(regexp_extract_all(
                    translate(text, 'AEIOUY', 'aeiouy'), '[aeiouy]+'))
                  AS BIGINT) AS vg
      FROM documents
      WHERE text IS NOT NULL AND text <> ''),
    s AS (
      SELECT doc_id, n_words, n_sentences,
             greatest(vg, n_words) AS n_syllables,
             n_words * 1000 // n_sentences AS wps_milli
      FROM b
      WHERE n_words > 0),
    r AS (
      SELECT doc_id, n_words, n_sentences, n_syllables,
             206835 - (1015 * wps_milli) // 1000
                    - (84600 * (n_syllables * 1000 // n_words)) // 1000
               AS fre_milli,
             (390 * wps_milli) // 1000
               + (11800 * (n_syllables * 1000 // n_words)) // 1000 - 15590
               AS fk_grade_milli
      FROM s)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(fre_milli AS BIGINT) AS fre_milli,
           CAST(fk_grade_milli AS BIGINT) AS fk_grade_milli,
           CASE WHEN fre_milli >= 90000 THEN 'very_easy'
                WHEN fre_milli >= 60000 THEN 'standard'
                WHEN fre_milli >= 30000 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM r
    """,
)
def text_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document - the
    readability axis of pretraining-data quality scoring (used alongside
    the Gopher rules / quality classifier to pick a corpus's difficulty
    mix, and by curriculum ordering as a pacing signal).  Words are
    non-empty runs between [ \\t\\n]+ separators (empty tokens from
    consecutive/leading/trailing whitespace never count; docs with zero
    words have no defined readability and are filtered - ADVICE r9).
    Syllables are the standard regex proxy - vowel GROUPS ([aeiouy]+)
    after an A-Z->a-z translate (char-for-char on both engines, immune
    to Java-vs-utf8proc special-casing like U+0130 - ADVICE r9), floored
    to one per word (every English word has >= 1 syllable; scripts
    without Latin vowels degrade to exactly the floor, keeping the score
    defined on any corpus slice).  Sentences are terminal-punctuation
    runs ([.!?]+), floored to 1 so headline-like fragments score as one
    sentence instead of dividing by zero.

    Cross-engine exactness: both ratios are integer milli-units
    (x * 1000 div y - the events_power_analysis recipe); the Flesch
    coefficients (206.835, 1.015, 84.6 / 0.39, 11.8, 15.59) are applied
    as integer milli-multiplies with a single flooring div each, so
    fre_milli / fk_grade_milli are bit-identical on any engine - no
    float ever appears.  All operands of every div are positive (the
    subtractions come last), so floor-vs-trunc division semantics can
    never diverge.

    Plan: pure map-side column math over one documents scan - two
    regexp_extract_all counts + one split, zero shuffle, zero UDF;
    linear at any scale and pushdown-friendly (only doc_id/text read)."""
    d = load(spark, sf, "documents")
    base = d.filter(F.col("text").isNotNull() & (F.col("text") != "")).select(
        "doc_id",
        # whitespace-robust (ADVICE r9): split on [ \t\n]+ runs, drop empty
        # tokens - consecutive/leading/trailing separators never count
        F.size(
            F.filter(
                F.split("text", "[ \t\n]+"), lambda x: x != F.lit("")
            )
        )
        .cast("long")
        .alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))),
            F.lit(1),
        )
        .cast("long")
        .alias("n_sentences"),
        # translate, not lower (ADVICE r9): char-for-char, no locale, no
        # Java-vs-utf8proc special-casing divergence; only ASCII vowels
        # matter to the scan
        F.size(
            F.regexp_extract_all(
                F.translate("text", "AEIOUY", "aeiouy"),
                F.lit("[aeiouy]+"),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("vg"),
    )
    s = base.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_sentences",
        F.greatest("vg", "n_words").alias("n_syllables"),
        F.expr("n_words * 1000 div n_sentences").alias("wps_milli"),
    )
    spw_milli = "(n_syllables * 1000 div n_words)"
    r = s.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            f"206835 - (1015 * wps_milli) div 1000"
            f" - (84600 * {spw_milli}) div 1000"
        )
        .cast("long")
        .alias("fre_milli"),
        F.expr(
            f"(390 * wps_milli) div 1000"
            f" + (11800 * {spw_milli}) div 1000 - 15590"
        )
        .cast("long")
        .alias("fk_grade_milli"),
    )
    return r.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "fre_milli",
        "fk_grade_milli",
        F.when(F.col("fre_milli") >= 90000, "very_easy")
        .when(F.col("fre_milli") >= 60000, "standard")
        .when(F.col("fre_milli") >= 30000, "difficult")
        .otherwise("very_difficult")
        .alias("band"),
    )


@query(
    "text_ccnet_buckets",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    freq AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM tok),
    nll AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             sum(CAST(floor(-ln(freq.n / CAST(tot.total AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT)) AS sum_micro
      FROM tok JOIN freq USING (token) CROSS JOIN tot
      GROUP BY doc_id),
    keyed AS (
      SELECT d.doc_id, d.lang, n.n_tokens,
             CAST(n.sum_micro * 1000 // n.n_tokens AS BIGINT) AS nll_nano
      FROM nll n JOIN documents d USING (doc_id))
    SELECT doc_id, lang, n_tokens, nll_nano,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY nll_nano, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM keyed
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing: per LANGUAGE, rank
    documents by LM perplexity and cut the ranking into terciles - 'head'
    (closest to the reference distribution) feeds high-quality pretraining
    mixes, 'tail' is quarantined or down-weighted (the CCNet pipeline's
    central quality gate, applied per-language so low-resource languages
    are never crowded out by the majority language's scale).

    The LM is text_perplexity_proxy's unigram model with the identical
    tokenization (single-space split, empties kept), so the two operators
    agree on every document's score: token NLLs quantized to integral
    micro-nats before the per-doc sum (order-independent integer math),
    then the per-doc ordering key nll_nano = sum_micro * 1000 div n_tokens
    - an all-positive integer div, identical under floor and truncation
    semantics, so Spark and DuckDB can never disagree on the ranking.
    doc_id is the total-order tiebreak; ntile(3) is SQL-standard on both
    engines (first (count mod 3) buckets take the extra row).

    Plan: one token explode + two hash aggs + a vocabulary-bounded
    broadcast join (the frequency side never grows past the vocabulary),
    a 1:1 join back to documents for lang, then ONE window sort per
    language partition.  At 100 TB the per-language full sort is the one
    non-scalable stage (few languages = few giant partitions); the scale
    spelling replaces exact ntile with approx_percentile tercile cut
    points per language (two tiny broadcast rows per language, map-side
    bucketing) at the cost of oracle-exactness - this spelling is the
    hash-checkable dual."""
    d = load(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    tot = tok.agg(F.count("*").alias("total"))
    micro = F.floor(
        -F.log(F.col("n") / F.col("total").cast("double")) * 1e6 + F.lit(0.5)
    ).cast("long")
    nll = (
        tok.join(F.broadcast(freq.crossJoin(F.broadcast(tot))), "token")
        .select("doc_id", micro.alias("micro_nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("micro_nll").alias("sum_micro"),
        )
    )
    keyed = nll.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("sum_micro * 1000 div n_tokens").cast("long").alias("nll_nano"),
    )
    w = Window.partitionBy("lang").orderBy("nll_nano", "doc_id")
    t = F.ntile(3).over(w)
    return keyed.select(
        "doc_id",
        "lang",
        "n_tokens",
        "nll_nano",
        F.when(t == 1, "head")
        .when(t == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@query(
    "text_keyness_logodds",
    oracle="""
    WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    st AS (SELECT source, token, count(*) AS a FROM tok GROUP BY 1, 2),
    stot AS (SELECT source, count(*) AS atot FROM tok GROUP BY 1),
    ct AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
    ctot AS (SELECT count(*) AS t FROM tok),
    k AS (
      SELECT st.source, st.token, st.a, ct.n - st.a AS b,
             CAST(floor(
               (ln((st.a + 1.0) / (stot.atot - st.a + 1.0))
                - ln((ct.n - st.a + 1.0)
                     / (ctot.t - stot.atot - (ct.n - st.a) + 1.0)))
               * 1000000.0 + 0.5) AS BIGINT) AS keyness_micro
      FROM st JOIN stot USING (source) JOIN ct USING (token)
      CROSS JOIN ctot),
    r AS (
      SELECT source, token, a AS cnt_in, b AS cnt_out, keyness_micro,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY keyness_micro DESC, token) AS BIGINT) AS rnk
      FROM k)
    SELECT source, token, cnt_in, cnt_out, keyness_micro, rnk
    FROM r WHERE rnk <= 5
    """,
)
def text_keyness_logodds(spark: SparkSession, sf: str) -> DataFrame:
    """Distinctive-term discovery per source: smoothed log-odds-ratio of
    each token's usage inside a source vs the rest of the corpus (the
    'Fightin' Words' keyness statistic with Haldane +1 smoothing), top 5
    terms per source.  This is the corpus-comparison primitive behind
    domain tagging, crawl-source characterization, and contamination
    triage ('what vocabulary makes this source different?') - frequency
    alone ranks stopwords, keyness ranks what is OVER-represented.

    Tokenization is DELIBERATELY the naive single-space split, for parity
    with text_perplexity_proxy / text_ccnet_buckets (ADVICE r10): keyness
    compares a source's counts against the rest of the corpus under ONE
    shared tokenizer, and an empty token from doubled spaces lands in
    both the in- and out-counts symmetrically, so it cannot fabricate a
    distinctive term (at worst '' itself ranks, visibly).

    Cross-engine exactness: both odds ratios are rationals of exact
    BIGINT counts; the integer adds/subtracts happen FIRST (left-
    associated, exact), each ratio incurs exactly one IEEE division,
    the two ln() calls and one subtraction are spelled with identical
    literals and association on both engines (one rounding per op, same
    op sequence - the win_ewma_smooth recipe), then a single micro-unit
    floor.  Ordering: keyness DESC with token ASC tiebreak - binary
    string collation on both engines - and row_number() cast to BIGINT
    for the driver's dtype-strict compare.

    Plan: one token explode feeding four hash aggs (all map-side
    combinable); the per-source totals and the scalar corpus total are
    tiny broadcasts; the token-frequency side is vocabulary-bounded -
    broadcast here, and at 100 TB (where the vocabulary can outgrow a
    broadcast) it becomes a sort-merge join co-partitioned on token
    with the (source, token) counts, still never touching raw rows
    twice.  The final window sorts <= vocabulary rows per source."""
    d = load(spark, sf, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count("*").alias("a"))
    stot = tok.groupBy("source").agg(F.count("*").alias("atot"))
    ct = tok.groupBy("token").agg(F.count("*").alias("n"))
    ctot = tok.agg(F.count("*").alias("t"))
    k = (
        st.join(F.broadcast(stot), "source")
        .join(F.broadcast(ct), "token")
        .crossJoin(F.broadcast(ctot))
    )
    in_odds = (F.col("a") + F.lit(1.0)) / (
        F.col("atot") - F.col("a") + F.lit(1.0)
    )
    out_odds = (F.col("n") - F.col("a") + F.lit(1.0)) / (
        F.col("t") - F.col("atot") - (F.col("n") - F.col("a")) + F.lit(1.0)
    )
    scored = k.select(
        "source",
        "token",
        F.col("a").alias("cnt_in"),
        (F.col("n") - F.col("a")).alias("cnt_out"),
        F.floor((F.log(in_odds) - F.log(out_odds)) * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("keyness_micro"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("keyness_micro"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select(
            "source", "token", "cnt_in", "cnt_out", "keyness_micro", "rnk"
        )
    )


@query(
    "text_oov_rate",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '[ \t\n]+'),
                                x -> x <> '')) AS token
      FROM documents),
    freq AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
    vocab AS (
      SELECT token FROM (
        SELECT token,
               row_number() OVER (ORDER BY n DESC, token) AS rk
        FROM freq)
      WHERE rk <= 64)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
           CAST(count(*) FILTER (WHERE v.token IS NULL) * 1000 // count(*)
                AS BIGINT) AS oov_milli
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-64 corpus
    vocabulary (count desc, token asc tiebreak - a deterministic stand-in
    for a trained tokenizer's vocab) and report each document's
    out-of-vocabulary token count and rate.  This is the sizing loop for
    real tokenizers - OOV/byte-fallback rate as a function of vocabulary
    size decides vocab budget, and per-doc OOV is a quality flag (docs
    that are mostly OOV against a corpus-wide vocab are boilerplate,
    another language, or junk; complements pipeline_tokenizer_fertility,
    which measures tokens-per-word of a FIXED tokenizer).

    Tokens are non-empty runs between [ \\t\\n]+ separators (the
    whitespace-robust text_readability spelling, ADVICE r10 - an empty
    token from doubled spaces would inflate n_tokens AND could occupy a
    vocab slot, skewing the very coverage this audits; unlike
    text_ccnet_buckets this operator owes no tokenization parity to
    text_perplexity_proxy).

    Cross-engine exactness: counts are exact integers end-to-end and the
    rate is an all-positive integer milli div (floor = truncation).  The
    vocabulary ranking tiebreaks on the token itself (binary collation
    both engines), so rank 64's boundary is deterministic.

    Plan: one explode -> vocabulary-bounded hash agg; the global top-64
    ranking runs on the AGGREGATED frequency table (vocabulary-sized,
    never the token stream - the win_ntile lesson does not apply to a
    64-row limit over an agg); the 64-row vocab broadcasts into a
    left join against the token stream (hash lookup, no shuffle of the
    stream beyond the per-doc agg it already needs).  At 100 TB the
    frequency agg is map-side combinable and everything after it is
    bounded by the vocabulary."""
    d = load(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", "[ \t\n]+"), lambda x: x != F.lit(""))
        ).alias("token"),
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    vocab = (
        freq.orderBy(F.desc("n"), F.asc("token"))
        .limit(64)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "token", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.expr(
            "CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) * 1000"
            " div count(*) AS BIGINT)"
        ).alias("oov_milli"),
    )
