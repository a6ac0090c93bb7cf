"""Cross-engine-deterministic helpers used by every declared query.

pround: Spark's round() decimal-expands the exact double (BigDecimal
HALF_UP) while DuckDB's round() scales then std::round's - at boundary
values (e.g. products whose *100 lands within an ulp of .5) they disagree.
Both engines evaluate `floor(x * 10^n + 0.5) / 10^n` bit-identically on
IEEE doubles, so every declared query uses this formula on BOTH sides
(convention: half-values round toward +inf).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def pround(c: Column | str, n: int = 2) -> Column:
    """Parity-stable round to n decimal places; null-propagating."""
    if isinstance(c, str):
        c = F.col(c)
    f = float(10**n)
    return F.floor(c * f + 0.5) / f


def sql_round(expr: str, n: int = 2) -> str:
    """The DuckDB/ANSI spelling of the same formula (for oracle strings)."""
    f = float(10**n)
    return f"floor(({expr}) * {f} + 0.5) / {f}"


def local_frame(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A driver-built table (`rows`: tuples in `schema`'s field order,
    structs as tuples) as an Arrow local relation.  Use it instead of
    `spark.createDataFrame(<list>, schema)`, which PySpark 4.1 runs through
    `parallelize`: every job that reads such a frame scans a PythonRDD and
    forks `pyspark.daemon` and its workers.  This one plans as
    LocalTableScan, so reading it runs no job for the scan and starts no
    Python process."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def salted_join(
    skewed,
    dim,
    on: list[str],
    salt_from: Column | str,
    n_salt: int = 16,
    how: str = "inner",
):
    """Skew-safe equi join: salt the skewed side, replicate the dim side.

    A hot key (one subscriber producing most of the traffic, one dominant
    dnn) lands an entire shuffle partition on one task; salting splits each
    key's rows across `n_salt` sub-partitions (salt derived by hashing a
    row-local column, NOT the join key), while the small side is replicated
    n_salt times so every sub-partition still finds its match.  Result is
    row-identical to the plain join - only the shuffle layout changes.
    AQE's OptimizeSkewedJoin does this adaptively for sort-merge joins;
    this explicit form also covers broadcast-ineligible skewed hash joins
    and is the pattern to reach for when AQE's split thresholds don't fire.
    """
    if isinstance(salt_from, str):
        salt_from = F.col(salt_from)
    salted = skewed.withColumn("_salt", F.pmod(F.xxhash64(salt_from), n_salt))
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<bigint>"))
    )
    return salted.join(replicated, [*on, "_salt"], how).drop("_salt")


def band_join(
    probe,
    build,
    probe_key: Column | str,
    build_key: Column | str,
    band: int,
    how: str = "inner",
):
    """No-equi-key range join |probe_key - build_key| <= band as an EQUI
    join - the second rewrite Catalyst cannot derive (salted_join is the
    first).  Spark plans a band predicate alone as broadcast-nested-loop /
    cartesian, which dies at fact x fact scale; bucketing both sides by
    floor(key / band) and fanning the probe to its 3 adjacent buckets
    makes it a plain hash join on the bucket key plus a residual band
    filter.  Each qualifying pair meets EXACTLY once (at the build row's
    unique bucket), so no post-join dedup is needed - property-tested
    against the naive all-pairs filter in tests/test_properties.py.

    Scale posture: shuffle on the bucket key like any equi join; the 3x
    fan-out is probe-side only.  Keys must be integral (e.g. epoch micros
    via unix_micros - whole-second truncation would admit out-of-band
    pairs); the two inputs must not share column names.  `how` supports
    'inner' and 'left' (left rows with no in-band partner survive with
    nulls, fan-out duplicates of unmatched rows carry only null build
    columns, so count(build_col)-style aggs are unaffected; callers
    needing bare left rows should dedup on the probe key).
    """
    if isinstance(probe_key, str):
        probe_key = F.col(probe_key)
    if isinstance(build_key, str):
        build_key = F.col(build_key)
    base = F.floor(probe_key / band)
    fan = probe.withColumn(
        "_bucket", F.explode(F.array(base - 1, base, base + 1))
    )
    built = build.withColumn("_bucket", F.floor(build_key / band))
    joined = fan.join(
        built,
        (fan["_bucket"] == built["_bucket"])
        & (build_key >= probe_key - band)
        & (build_key <= probe_key + band),
        how,
    )
    return joined.drop(fan["_bucket"]).drop(built["_bucket"])


def _ranged_with_pid(df, sort_cols, ascending=None):
    """Range-shuffle df on sort_cols so partition ids follow sort order,
    and tag each row with its pid.  Foundation of the distributed global
    rank / running sum (the win_ntile recipe).

    The pid-tagged frame is lazily localCheckpoint-ed: the counts/offsets
    branch and the output branch BOTH scan the one materialized RDD, so
    their pids agree STRUCTURALLY - not by the weaker
    deterministic-bound-sampling argument, which AQE can break when its
    runtime coalescing gives the two planned copies of the range exchange
    different input layouts (observed as a corrupted rank at sf0.1).
    This is also exactly zipWithIndex's contract: one materializing pass
    to learn per-partition sizes, then the cheap offset arithmetic."""
    spark = df.sparkSession
    p = max(2, spark.sparkContext.defaultParallelism)
    cols = [
        (F.col(c) if isinstance(c, str) else c) for c in sort_cols
    ]
    if ascending:
        cols = [
            c if asc else c.desc()
            for c, asc in zip(cols, ascending)
        ]
    return (
        df.repartitionByRange(p, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )


def global_rank(df, sort_cols, out: str = "rn", ascending=None):
    """Global 1-based row_number over sort_cols WITHOUT the
    Exchange-SinglePartition plan `row_number() OVER (ORDER BY ...)`
    produces (banned by tests/test_plan_quality.py TestNoGlobalWindow).

    The zipWithIndex spelling: range shuffle on the (unique) key ->
    sortWithinPartitions -> monotonically_increasing_id encodes
    (partition id << 33 | local row number) IN the sorted stage - no
    Window operator, no extra exchange - then the frame is lazily
    localCheckpoint-ed so the per-partition-count branch and the output
    branch scan ONE materialized RDD (structural pid consistency; AQE
    coalescing merges only ADJACENT ranges, so pid order still follows
    key order).  Prefix offsets come from a P-row self-join broadcast
    back; rank = offset + local index + 1.  Requires sort_cols to be a
    UNIQUE key; `ascending` is an optional list of bools per sort col.
    Partitions are capped at 2^33 rows by the id encoding - at 8 bytes
    a row that is a 64 GB shuffle partition, far past any sane task
    size."""
    spark = df.sparkSession
    p = max(2, spark.sparkContext.defaultParallelism)
    cols = [(F.col(c) if isinstance(c, str) else c) for c in sort_cols]
    if ascending:
        cols = [c if asc else c.desc() for c, asc in zip(cols, ascending)]
    tagged = (
        df.repartitionByRange(p, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    tagged = tagged.withColumn(
        "_pid", F.shiftright("_mid", 33)
    ).withColumn("_lrn", F.col("_mid") % F.lit(1 << 33))
    counts = tagged.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    # the prefix-offset self-join is non-equi over a P-row frame: the
    # build side MUST be an explicit broadcast (BroadcastNestedLoopJoin)
    # - without the hint, AQE-off plans it as a CartesianProduct of
    # P x P partitions (measured: three ~1000-task stages of trivial
    # work per call at P=32, ~7 s of pure scheduling in every
    # global_rank consumer - r14)
    offsets = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    return (
        tagged.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_lrn") + 1).cast("long"))
        .drop("_mid", "_pid", "_lrn", "_off")
    )


def global_running_sum(df, val_col: str, sort_cols, out: str = "cum"):
    """Global inclusive running sum of val_col over sort_cols order,
    spelled distributed (same offsets trick as global_rank with per-range
    SUMS instead of counts).  sort_cols must be a unique key; val_col
    must be integral for cross-engine exactness."""
    from pyspark.sql import Window as W

    ranged = _ranged_with_pid(df, sort_cols)
    w_local = (
        W.partitionBy("_pid")
        .orderBy(*[F.col(c) if isinstance(c, str) else c for c in sort_cols])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = ranged.withColumn("_local_cum", F.sum(val_col).over(w_local))
    sums = ranged.groupBy("_pid").agg(F.sum(val_col).alias("_psum"))
    offsets = (
        sums.alias("a")
        # explicit broadcast for the same reason as global_rank's
        # offsets join: non-equi + AQE-off otherwise plans a P x P
        # CartesianProduct of trivial tasks
        .join(
            F.broadcast(sums.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._psum"), F.lit(0)).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_local_cum")).cast("long"))
        .drop("_pid", "_local_cum", "_off")
    )


def ntile_expr(rn: str, n_total: str, tiles: int) -> Column:
    """Exact SQL ntile(t) arithmetic on a precomputed global rank column:
    the first n%t tiles get one extra row (the win_ntile distributed
    spelling, windows.py).  Takes COLUMN NAMES (integral types)."""
    b = f"({n_total} div {tiles})"
    m = f"({n_total} % {tiles})"
    return F.expr(
        f"CASE WHEN {rn} <= {m} * ({b} + 1)"
        f" THEN ({rn} + {b}) div ({b} + 1)"
        f" ELSE {m} + (({rn} - {m} * ({b} + 1) + {b} - 1) div {b}) END"
    )
