"""query_mix: registered queries on a fresh session, cold then warm.

A fixed list of registry.QUERIES ids runs in an order drawn from the
seed, on a get_spark() session in the library's default posture.  The
first pass is cold (first call of each id: builder, parquet schema
resolution, codegen and any cross-query artifact build); later passes
are warm.  Each call is timed as build (the Python builder) and execute
(a `noop` write, so no rows travel to the driver; it plans the query
too).  The traced run also times one Catalyst pass on its own between
the two; the write then plans again, and that cost is tracing overhead.
First-call results are checked against the DuckDB oracles (fixtures.py).
"""

from __future__ import annotations

import random
import sys
import time

import fixtures
from spans import JobCounter
from stats import check_coverage, p50

from pei_nwdaf_data_ingestion_spark import catalog, registry
from pei_nwdaf_data_ingestion_spark.session import get_spark

QUERY_IDS = (
    # short, overhead-bound shapes: catalog and builder costs dominate
    "agg_groupby_hash", "join_multiway", "win_rank_topk", "json_extract",
    "text_token_stats", "ref_context_enrich", "ref_unit_parse",
    "ref_policy_hash", "ref_upsert_lastwins",
    # shapes with cross-query state: artifact builds dominate first calls
    "sim_ivf_topk", "dedup_minhash_lsh", "graph_pagerank_iter",
)
WARM_SETUPS = 9  # setup_s: median of this many set-ups after the JVM launch
MIN_WARM_PASSES = 1


def _setup(run) -> float:
    """A fresh session that has run its first job."""
    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        spark = get_spark()
        spark.range(1).count()
    return time.perf_counter() - t0


def _wrap_catalog(run, jobs: JobCounter) -> dict:
    """Count and time every catalog.load the query builders make.  The
    query modules import `load` by name, so each module's binding is
    swapped for a wrapper."""
    original = catalog.load
    loads = {}  # job group of the call -> milliseconds

    def load(spark, sf_dir, table):
        outer = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        group = f"{outer}/catalog{len(loads)}"
        t0 = time.perf_counter()
        with run.tracer.span("catalog.load"), jobs.group(group):
            df = original(spark, sf_dir, table)
        loads[group] = (time.perf_counter() - t0) * 1e3
        return df

    for name, mod in list(sys.modules.items()):
        if name.startswith("pei_nwdaf_data_ingestion_spark.queries.") and \
                getattr(mod, "load", None) is original:
            mod.load = load
    return loads


def _call(run, jobs: JobCounter, spark, sf_dir: str, qid: str, k: int) -> tuple:
    """One timed call; returns (df, wall, build, plan, exec) seconds.
    Untraced, plan is 0 and exec includes the write's own planning."""
    op = f"{qid}#{k}"
    fn = registry.QUERIES[qid]
    with run.tracer.span("queries.call", op=op):
        t0 = time.perf_counter()
        with run.tracer.span("queries.build"), jobs.group(f"{op}/build"):
            df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        if run.traced:
            with run.tracer.span("queries.plan"), jobs.group(f"{op}/plan"):
                df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with run.tracer.span("queries.exec"), jobs.group(f"{op}/exec"):
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    return df, t3 - t0, t1 - t0, t2 - t1, t3 - t2


def _verify(run, first_dfs: dict, expected: dict) -> None:
    for qid, df in first_dfs.items():
        run.attempted += 1
        want = expected[qid]
        try:
            got = fixtures.describe(df.toPandas())
        except Exception as e:  # noqa: BLE001 - a failed query is a failed op
            run.fail(f"{qid}: result collection raised {type(e).__name__}: {e}")
            continue
        if got != want:
            diff = [k for k in want if got.get(k) != want[k]]
            run.fail(f"{qid}: result differs from its DuckDB oracle in {diff}")


def run(run) -> None:
    registry.load_all()
    sf_dir = fixtures.sf_dir()
    expected = fixtures.expected(sf_dir, QUERY_IDS)
    _setup(run)  # the first set-up launches the JVM: not part of setup_s
    setups = []
    for _ in range(WARM_SETUPS):
        get_spark().stop()
        setups.append(_setup(run))
    run.e2e["setup_s"] = p50(setups)
    print("perfbench: set-ups s " + " ".join(f"{t:.2f}" for t in setups), file=sys.stderr)
    spark = get_spark()
    jobs = JobCounter(spark, run.traced)
    loads = _wrap_catalog(run, jobs) if run.traced else None

    order = list(QUERY_IDS)
    random.Random(run.seed).shuffle(order)
    calls: dict[str, list[tuple]] = {q: [] for q in order}
    first_dfs = {}
    t_start = time.perf_counter()
    passes = 0
    while passes < 1 + MIN_WARM_PASSES or time.perf_counter() - t_start < run.seconds:
        for qid in order:
            try:
                df, *times = _call(run, jobs, spark, sf_dir, qid, passes)
            except Exception as e:  # noqa: BLE001 - count it and go on
                run.attempted += 1
                run.fail(f"{qid} call {passes}: {type(e).__name__}: {e}")
                continue
            run.attempted += 1
            calls[qid].append(times)
            first_dfs.setdefault(qid, df)
        passes += 1
    _verify(run, first_dfs, expected)

    print("perfbench: pass s " + " ".join(
        f"{sum(c[k][0] for c in calls.values() if len(c) > k):.2f}" for k in range(passes)),
        file=sys.stderr)
    cold = [c[0] for c in calls.values() if c]
    warm = [t for c in calls.values() for t in c[1:]]
    # one operation = one pass over the whole mix; per-call medians of a
    # mix this heterogeneous jump between neighbouring query ids
    run.e2e["cold_s"] = sum(t[0] for t in cold)
    run.e2e["op_p50_s"] = p50(
        sum(c[k][0] for c in calls.values() if len(c) > k) for k in range(1, passes))
    if not run.traced:
        return
    L = run.layers
    L["session.get_spark_s"] = p50(setups)
    L["queries.build_s_p50"] = p50(t[1] for t in warm)
    L["queries.plan_s_p50"] = p50(t[2] for t in warm)
    L["queries.exec_s_p50"] = p50(t[3] for t in warm)
    L["queries.cold_build_s"] = sum(t[1] for t in cold)
    L["queries.phase_coverage"] = check_coverage(
        "queries.phase_coverage", p50(run.tracer.child_share("queries.call")))
    # counts: the cold pass, and the first warm pass (one call per id)
    counts = jobs.counts
    L["queries.cold_build_jobs"] = sum(counts.get(f"{q}#0/build", {}).get("jobs", 0) for q in order)
    L["queries.build_jobs"] = sum(counts.get(f"{q}#1/build", {}).get("jobs", 0) for q in order)
    for key, metric in (("jobs", "exec_jobs"), ("stages", "exec_stages"),
                        ("tasks", "exec_tasks"), ("failed_tasks", "failed_tasks")):
        L[f"queries.{metric}"] = sum(counts.get(f"{q}#1/exec", {}).get(key, 0) for q in order)
    warm_loads = {g: ms for g, ms in loads.items() if "#1/build/catalog" in g}
    L["catalog.load_calls"] = len(warm_loads)
    L["catalog.load_ms_p50"] = p50(warm_loads.values())
    L["catalog.load_jobs"] = sum(counts[g]["jobs"] for g in warm_loads)
