"""Query registry - the driver-contract surface.

Every operator from SURVEY.md section 2 registers here as a named query
builder `(spark, sf_dir) -> DataFrame`, optionally paired with an ANSI-SQL
oracle string DuckDB runs on the same parquet tables.  `__spark_entry__.py`
exposes this registry to the driver.

Oracle-parity conventions (SURVEY.md section 7.4):
- every computed float aggregate is `round(x, 2)` (or finer, consistently)
  on BOTH sides before hashing;
- no `current_timestamp` / `rand` in declared queries;
- every LIMIT / top-K orders by a unique key suffix;
- array outputs are deterministically sorted and rendered as strings;
- timestamps leave the plan as epoch integers or formatted strings;
- column names are aliased identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# un-wrapped builders (no digest column) - the surface pytest duals and
# batch-equality pins compare against, so the digest plumbing can never
# mask a real value divergence
RAW_QUERIES: dict[str, QueryFn] = {}


def append_result_digest(df: DataFrame) -> DataFrame:
    """Append a constant `result_digest` column: one order-insensitive
    fingerprint of the WHOLE result, stamped onto every row (VERDICT r13
    item 5 - the driver's rows-only check records only row counts, so a
    value regression in a rows-only query was invisible to the artifact;
    the digest surfaces the pytest batch-dual strength driver-side: two
    runs of unchanged code must print the same digest).

    Construction is scale-safe and deterministic: per-row xxhash64 over
    the name-sorted columns (map columns ride as to_json - Spark refuses
    to hash MapType directly) PLUS a per-column isnull indicator (ADVICE
    r14: xxhash64 skips NULL inputs entirely - the seed passes through -
    so without the indicators two rows differing only in WHICH same-typed
    column holds the NULL, e.g. (NULL, x) vs (x, NULL), hash identically
    and a class of value regressions goes undetected; the never-NULL
    indicator sequence encodes null positions while keeping the whole
    expression in codegen-able primitives), combined by three COMMUTATIVE
    aggregates (count, bit_xor, overflow-proof decimal sum - xor alone
    cancels even-multiplicity duplicate rows, the sum breaks that),
    md5-rendered, then broadcast onto the result.  One extra combinable
    map-side agg pass, no extra shuffle of the payload, independent of
    partitioning and task order."""
    from pyspark.sql import functions as F

    cols = []
    for c, t in sorted(df.dtypes):
        v = F.to_json(F.col(c)) if t.startswith("map") else F.col(c)
        cols.append(v)
        cols.append(F.isnull(c).cast("int"))
    h = df.select(F.xxhash64(*cols).alias("h64"))
    agg = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(h64)"), F.lit(0)).alias("x"),
        F.coalesce(
            F.sum(F.col("h64").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s"),
    ).select(F.md5(F.concat_ws(":", "n", "x", "s")).alias("result_digest"))
    return df.crossJoin(F.broadcast(agg))


def _digested(fn: QueryFn) -> QueryFn:
    def wrapped(spark: SparkSession, sf: str) -> DataFrame:
        return append_result_digest(fn(spark, sf))

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    wrapped.__module__ = getattr(fn, "__module__", wrapped.__module__)
    return wrapped


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder; `oracle=None` marks a rows-only query.

    Rows-only queries (no static-SQL oracle exists: streaming semantics,
    engine-specific sketches, data-dependent iteration counts) register
    WRAPPED with append_result_digest, so the driver-visible output
    carries a deterministic whole-result fingerprint next to the row
    count; the raw builder stays in RAW_QUERIES for the pytest duals."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id {name!r}")
        RAW_QUERIES[name] = fn
        QUERIES[name] = fn if oracle is not None else _digested(fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _last_green_round() -> dict[str, int]:
    """Per-query round of the most recent SUCCESSFUL driver sample, parsed
    from the committed CORRECTNESS_r*.json artifacts.  An errored sample
    does not refresh a query's signal."""
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(p).split("_r")[1].split(".")[0])
            records = json.loads(open(p).read())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        if not isinstance(records, dict):
            # malformed artifact (e.g. a top-level list) degrades to "no
            # signal" instead of crashing load_all() (ADVICE r5)
            continue
        for name, rec in records.items():
            ok = isinstance(rec, dict) and (
                rec.get("err") is None or rec.get("err") == "no_oracle"
            )
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last


def load_all() -> None:
    """Import every query module, then pin driver-visit order.

    Registration order = the order a budget-limited driver visits queries
    (it records the first ~50 per round).  The order is DERIVED, not
    hand-maintained: every id sorted by staleness (round of its last green
    driver sample, ascending, so never-sampled and oldest-hash ids come
    first), import order as the tiebreaker (the sort is stable).  ORACLES
    follows the same order."""
    from .queries import (  # noqa: F401
        refsem,
        windows,
        llm,
        advanced,
        multimodal_queries,
        streaming_queries,
        relational,
        scalars,
        corpus_ops,
        analytics_ops,
        infostats,
        audit_ops,
    )

    last = _last_green_round()
    order = sorted(QUERIES, key=lambda n: last.get(n, 0))
    for mapping in (QUERIES, ORACLES):
        snapshot = dict(mapping)
        mapping.clear()
        mapping.update({n: snapshot[n] for n in order if n in snapshot})
