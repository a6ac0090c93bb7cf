"""get_spark's session posture: the JVM-wide generated-class cache holds a
warm working set, so a second pass over the same queries compiles no
code."""

from __future__ import annotations

from pei_nwdaf_data_ingestion_spark import registry
from pei_nwdaf_data_ingestion_spark.session import CODEGEN_CACHE_ENTRIES

from conftest import SF_DIR

# perfbench's query_mix ids but graph_pagerank_iter, plus short aggregate,
# window and join shapes: together they need well over Spark's default of
# 100 cached classes even when their cross-query artifacts are already
# built, so at that size each pass evicts what the next query needs and
# recompiles it.  Each of them planned the same code on every call in
# three-pass audits of the registry; graph_pagerank_iter once did not (a
# whole-stage class name carries the codegen stage id, and AQE can number
# a plan's stages differently from one call to the next).
WORKING_SET = (
    "agg_groupby_hash", "join_multiway", "win_rank_topk", "json_extract",
    "text_token_stats", "ref_context_enrich", "ref_unit_parse",
    "ref_policy_hash", "ref_upsert_lastwins", "sim_ivf_topk",
    "dedup_minhash_lsh", "win_percent_rank", "win_range_frame",
    "agg_pivot", "agg_ks_drift", "agg_maxby", "agg_mad_robust",
    "join_full_outer",
)


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM; a cache hit adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _empty_codegen_cache(spark) -> None:
    """Empty the JVM-wide cache, so the first pass below compiles its
    classes even when earlier tests in this JVM left them cached.  The
    cache is a private field of the CodeGenerator object."""
    field = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_warm_pass_compiles_no_class(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    registry.load_all()
    _empty_codegen_cache(spark)
    compiled = []
    for _ in range(2):
        before = _compiles(spark)
        for qid in WORKING_SET:
            registry.QUERIES[qid](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        compiled.append(_compiles(spark) - before)
    assert compiled[0] > 100, compiled
    assert compiled[1] == 0, compiled
