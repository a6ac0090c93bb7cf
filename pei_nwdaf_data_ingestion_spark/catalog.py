"""Fixture-table catalog.

The driver materializes ten parquet tables per scale factor at
/root/testdata/sf{0.001,0.01,0.1}/<table>.parquet (TESTDATA.md).  All query
builders load through here so that scan behavior (schema, pushdown) is
uniform and a future move to a real catalog (Delta/Iceberg/HMS) is one-file.

Schema memo: `_SCHEMAS` maps a fixture file's (path, st_mtime_ns, st_size)
to the StructType Spark infers for it.  Inference is a Spark job (a parquet
footer read); it runs on the first load of a file in the process, and every
later load reads with that declared schema, which runs no job at all.  A
rewritten file changes its mtime or size and is inferred again.  The memo
holds only the Python StructType - no DataFrame, no JVM object - so it stays
valid across sessions and applications, and cache resets need not touch it.
DataFrames are NOT memoized: every load builds a fresh scan with its own
attribute ids, which is what keeps self-joins of one table unambiguous.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import artifacts

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# SPARK_GRAFT_CACHE=1 -> materialize base tables once into a repartitioned
# in-memory columnar cache (bench.py sets it; correctness runs never do).
# Rationale: the fixture files are SINGLE-row-group parquet, which hard-caps
# Spark's scan parallelism at 1 task per table no matter how splits are
# configured - an artifact of the fixture writer, not of the queries.  The
# cache restores multi-core execution the way any warm Spark deployment
# would (hot tables pinned via .cache() / a real lakehouse layout has many
# row groups and needs none of this).  Cold-path plans - predicate pushdown,
# column pruning - are unchanged and still exercised by tests + driver runs.


def _cache_on() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE", "0") == "1"


def _cold_fanout_on() -> bool:
    # SPARK_GRAFT_COLD_FANOUT=1 -> repartition UNCACHED scans of non-tiny
    # tables to the same width the cache path uses (bench.py sets it for its
    # cold sweep; VERDICT r6 item 3).  The fixture files are single-row-group
    # parquet, so a cold scan is pinned to ONE task no matter the split conf;
    # fanning out costs one sub-10 MiB round-robin shuffle and restores the
    # multi-core execution any real many-row-group layout gives for free.
    # Default OFF: correctness runs don't need it, and the plan-pin tests
    # assert exchange counts of the QUERY plans, not of fixture-artifact
    # compensation.
    return os.environ.get("SPARK_GRAFT_COLD_FANOUT", "0") == "1"


def _fanout_width(spark: SparkSession, size: int) -> int:
    """Partition width for a non-tiny table: at least the shuffle width so
    pre- and post-exchange task counts align, ~1 MiB/partition beyond that,
    capped at the core count (probe matrix of tools/probe_ppjoin.py, last
    in commit 4ef4208)."""
    shuf = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    return min(spark.sparkContext.defaultParallelism, max(shuf, size >> 20))


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one fixture table.

    A plain parquet scan, so Catalyst gets full predicate pushdown, column
    pruning, and row-group skipping on whatever the caller selects.  The
    schema comes from the module's memo (see the module docstring): the
    first load of a file infers it with one Spark job, later loads declare
    it and run none.  Each call returns a new DataFrame, except under
    SPARK_GRAFT_CACHE=1, where every load of a table in one application
    returns the one cached frame kept in the artifact store.  Raises KeyError
    for an unknown table and FileNotFoundError, naming the table and the
    path, when the fixture file is missing.
    """
    if table not in TABLES:
        raise KeyError(f"unknown fixture table {table!r}; known: {TABLES}")
    # Oracle parity requires UTC rendering of timestamps regardless of the
    # caller's session defaults (the driver builds its own SparkSession);
    # session timeZone is a dynamic conf, so pin it at every load.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{table}.parquet")
    if _cache_on():

        def build() -> DataFrame:
            df = _read(spark, path, table)
            size = os.path.getsize(path)
            if size < (256 << 10):
                # tiny dims stay single-partition: they broadcast anyway,
                # and per-task overhead would dominate
                return df.coalesce(1).cache()
            # non-tiny tables fan out to AT LEAST the shuffle width: the
            # previous ~1 MiB/partition rule left documents (0.59 MiB at
            # sf0.1) on ONE cached partition, starving every self-join
            # pipeline above it (dedup_ppjoin_prefix measured 2x slower;
            # BENCH_r05 / VERDICT r5 item 1).  Matching the shuffle width
            # keeps pre- and post-exchange task counts aligned (probe
            # matrix of tools/probe_ppjoin.py, last in commit 4ef4208:
            # 8-partition cache beat both coalesce(1) and 32-partition at
            # 2.2 s vs 4.1-4.3 s under the bench's shuffle=8).
            return df.repartition(_fanout_width(spark, size)).cache()

        return artifacts.memo(spark, sf_dir, "table", build, table)
    df = _read(spark, path, table)
    if _cold_fanout_on():
        size = os.path.getsize(path)
        if size >= (256 << 10):
            # Re-chunk ONCE per application into a width-file parquet copy
            # and scan THAT: the fixture file is single-row-group, so the
            # old per-query repartition still paid a 1-core decode + a full
            # shuffle inside EVERY cold query (agg_decimal_money uncached
            # 5x warm - VERDICT r7 item 6).  A real 100 TB layout has many
            # row groups per file; the copy models exactly that, each cold
            # scan parallelizes at the source with NO compensation exchange
            # in the plan, and pushdown/pruning hit the copy like any scan.
            # Data still comes from parquet on disk per query - this is a
            # layout fix, not a cache.
            d, schema = _rechunked(
                spark, sf_dir, table, _fanout_width(spark, size)
            )
            return spark.read.schema(schema).parquet(d)
    return df


def _rechunked(
    spark: SparkSession, sf_dir: str, table: str, width: int
) -> tuple[str, T.StructType]:
    """(dir, schema) of a `width`-file parquet copy of the fixture table,
    written once per application into a scratch dir.  The copy holds the
    NORMALIZED frame (_read fixes legacy timestamp encodings), so reading
    it needs no re-normalization and values are bit-identical to the
    original load; it is read back with that frame's schema, so it is
    never inferred."""

    def build() -> tuple[str, T.StructType]:
        d = artifacts.scratch_dir(f"coldchunk_{table}_")
        df = _read(spark, os.path.join(sf_dir, f"{table}.parquet"), table)
        df.repartition(width).write.mode("overwrite").parquet(d)
        return d, df.schema

    return artifacts.memo(spark, sf_dir, "rechunk", build, table)


# (path, st_mtime_ns, st_size) -> inferred schema; see the module docstring.
# Two threads racing on one key both infer and store the same value.
_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def _schema(spark: SparkSession, path: str, table: str) -> T.StructType:
    """The schema Spark infers for the fixture file at `path`: from the
    memo when this version of the file was seen before, else inferred by
    one Spark job and stored."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"fixture table {table!r}: no parquet file at {path}"
        ) from None
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def _read(spark: SparkSession, path: str, table: str) -> DataFrame:
    if table == "events":
        # legacy fixture encoding: events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; read it as nanos-long and
        # truncate to microseconds (TimestampType) - same truncation DuckDB
        # applies, so oracle parity holds.  The conf is session-dynamic.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _schema(spark, path, table)
    df = spark.read.schema(schema).parquet(path)
    # Parquet timestamps written with isAdjustedToUTC=false load as
    # TIMESTAMP_NTZ under Spark 4.x, which unix_millis()/withWatermark()
    # reject.  Session TZ is pinned UTC in load, so casting NTZ ->
    # TimestampType is value-preserving (the wall-clock instant is
    # reinterpreted as UTC, exactly how DuckDB renders the same file -
    # oracle parity holds).  Both fixes are worked out from the schema and
    # applied in one projection.
    fixes = {}
    for f in schema.fields:
        if table == "events" and f.name == "ts" and isinstance(f.dataType, T.LongType):
            fixes["ts"] = F.timestamp_micros(F.expr("ts div 1000"))
        elif isinstance(f.dataType, T.TimestampNTZType):
            fixes[f.name] = F.col(f.name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


# Size gate for broadcasting a FACT-PROPORTIONAL table (customer, orders,
# ...) as a join build side.  Bounded dims (region/nation, trained codebooks,
# rule tables) may broadcast unconditionally; anything that grows with the
# corpus must pass this gate, because F.broadcast OVERRIDES Spark's own size
# checks and at 100x the hinted side becomes a multi-GB pin in every
# executor (VERDICT r10 item 2).  Same rationale and default as the ppjoin /
# minhash build-side gates (queries/llm.py _PPJOIN_BROADCAST_BYTES).
FACT_BROADCAST_BYTES = 256 << 20


def gated_broadcast(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Broadcast-hint `df` only while `table`'s source file is under the
    fact-broadcast gate; beyond it return `df` unhinted so Catalyst/AQE
    pick a shuffled join from real stats.  `df` must derive from `table`
    (the gate sizes the source, not the projected frame - conservative,
    since builders project a key subset of it)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.getsize(path) < FACT_BROADCAST_BYTES:
        return F.broadcast(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for spark.sql queries)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
