"""Physical-plan quality assertions: the optimizations SURVEY.md section 4
claims (pushdown, pruning, broadcast join selection, codegen) must actually
appear in the plans - not be assumed.  These guard against regressions that
correctness tests can't see (a query can return identical rows from a plan
that re-reads every column and shuffles every join)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from pei_nwdaf_data_ingestion_spark import artifacts, registry
from tests.conftest import SF_DIR

registry.load_all()


def assert_map_only(plan: str) -> None:
    """No shuffle Exchange (a BroadcastExchange is not one) and no
    sort-merge join in a formatted physical plan."""
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
    assert "SortMergeJoin" not in plan, plan


def plan_of(spark, name: str, *, adaptive: bool = True) -> str:
    """Formatted physical plan; adaptive=False pins AQE off so codegen
    spans are visible statically (under AQE they appear only in the
    runtime-finalized plan, which explain() on an unexecuted frame never
    shows)."""
    if not adaptive:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()
    finally:
        if not adaptive:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestPushdownAndPruning:
    def test_q1_filter_reaches_parquet_scan(self, spark):
        """The shipdate predicate must be in PushedFilters (row-group /
        page skipping at scale), not a post-scan Filter only."""
        plan = plan_of(spark, "agg_groupby_hash")
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert any("l_shipdate" in l for l in pushed)

    def test_q1_column_pruning(self, spark):
        """Q1 touches 7 of lineitem's 16 columns; the scan must not read
        the wide comment/address columns."""
        plan = plan_of(spark, "agg_groupby_hash")
        schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert schemas and all("l_comment" not in l for l in schemas)
        assert any("l_returnflag" in l for l in schemas)

    def test_scan_project_reads_only_projected_columns(self, spark):
        plan = plan_of(spark, "scan_project")
        schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert schemas
        for bad in ("l_comment", "l_shipdate", "l_quantity"):
            assert all(bad not in l for l in schemas)

    def test_orc_scan_prunes_to_query_columns(self, spark):
        """ADVICE r13: the ORC dump now carries ALL 11 lineitem columns,
        so the read side must prove real column pruning - the OrcScan's
        ReadSchema carries exactly the 3 columns the query touches."""
        plan = plan_of(spark, "scan_orc_source")
        orc_schemas = [
            l for l in plan.splitlines()
            if "ReadSchema" in l and "l_quantity" in l
        ]
        assert orc_schemas, "ORC scan schema line not found"
        for line in orc_schemas:
            for kept in ("l_quantity", "l_returnflag", "l_linestatus"):
                assert kept in line
            for dropped in ("l_orderkey", "l_extendedprice", "l_shipdate"):
                assert dropped not in line


    def test_flight_source_fans_out_one_ticket_per_task(self, spark):
        """scan_flight_source (r15): the endpoint list is the unit of
        parallelism - each Flight ticket lands in its own task, each task
        DoGets its own slice, and the union of slices is exactly the
        parquet table (no overlap, no loss).  The read side is
        mapInPandas (Arrow batches end-to-end), never a driver collect."""
        from pyspark.sql import functions as F

        from pei_nwdaf_data_ingestion_spark import registry
        from pei_nwdaf_data_ingestion_spark.catalog import load
        from pei_nwdaf_data_ingestion_spark.queries import corpus_ops

        registry.load_all()
        sf = "/root/testdata/sf0.001"
        got = {
            (r["c_nationkey"], r["n_cust"], r["bal_cents"])
            for r in registry.QUERIES["scan_flight_source"](spark, sf).collect()
        }
        want = {
            tuple(r)
            for r in load(spark, sf, "customer")
            .groupBy("c_nationkey")
            .agg(
                F.count("*").alias("n_cust"),
                F.sum(
                    F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long")
                ).alias("bal_cents"),
            )
            .collect()
        }
        assert got == want and len(got) > 0
        # endpoint fan-out: the server advertises _FLIGHT_SRC_SLICES
        # tickets and every slice arrives (row counts add up exactly)
        import pyarrow.flight as fl

        loc = corpus_ops._flight_source_location(spark, sf)
        client = fl.connect(loc)
        try:
            info = client.get_flight_info(
                fl.FlightDescriptor.for_path("customer")
            )
            assert len(info.endpoints) == corpus_ops._FLIGHT_SRC_SLICES
            n_rows = sum(
                sum(c.data.num_rows for c in client.do_get(ep.ticket))
                for ep in info.endpoints
            )
        finally:
            client.close()
        assert n_rows == load(spark, sf, "customer").count()


class TestJoinStrategy:
    def test_star_join_broadcasts_all_dims(self, spark):
        """5-way star: every dim side fits the broadcast threshold, so the
        plan must be a pure BroadcastHashJoin chain - no sort-merge, no
        shuffle exchange for join co-location, no cartesian."""
        plan = plan_of(spark, "join_multiway")
        assert plan.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_enrichment_join_is_broadcast(self, spark):
        """The reference's cache point-lookup (receiver.py:363-374) maps to
        a broadcast hash join of the stream against the tiny dim."""
        plan = plan_of(spark, "ref_context_enrich")
        assert "BroadcastHashJoin" in plan

    @pytest.mark.parametrize("name", ["join_semi", "join_anti"])
    def test_exists_joins_do_not_materialize_right_columns(self, spark, name):
        """Semi/anti joins must stay semi/anti in the physical plan (no
        rewrite through an aggregate + full join)."""
        plan = plan_of(spark, name)
        assert "Semi" in plan or "Anti" in plan


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark, tmp_path):
        """The 100TB co-location play: persist both fact tables bucketed by
        the join key; the sort-merge join then needs NO shuffle exchange on
        either side (only sorts).  This is the layout the ingest path would
        write for repeatedly-joined facts."""
        from pei_nwdaf_data_ingestion_spark.catalog import load

        sf = "/root/testdata/sf0.001"
        warehouse = str(tmp_path / "wh")
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
                name = f"b_{t}"
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                (
                    load(spark, sf, t)
                    .write.format("parquet")
                    .bucketBy(8, key)
                    .sortBy(key)
                    .option("path", f"{warehouse}/{name}")
                    .saveAsTable(name)
                )
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: no shuffle at all
            # and the result is still correct
            n = joined.count()
            li = load(spark, sf, "lineitem").count()
            assert n == li  # every lineitem row has its order
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")
            spark.sql("DROP TABLE IF EXISTS b_orders")


class TestPartitionPruning:
    def test_date_partitioned_layout_prunes(self, spark, tmp_path):
        """The 100TB layout: facts partitioned by event date; a day filter
        must show up as a PartitionFilter (directories never listed), not a
        data filter."""
        from pei_nwdaf_data_ingestion_spark.catalog import load

        sf = "/root/testdata/sf0.001"
        path = str(tmp_path / "events_by_day")
        ev = load(spark, sf, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        ev.write.partitionBy("day").parquet(path)
        some_day = ev.select("day").first()["day"]
        q = (
            spark.read.parquet(path)
            .filter(F.col("day") == some_day)
            .select("event_id", "value")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain("formatted")
        plan = buf.getvalue()
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf and any("day" in l for l in pf)
        # the day predicate must NOT survive as a post-scan data filter
        assert all(
            "day" not in l for l in plan.splitlines() if l.strip().startswith("Condition")
        )
        n_match = q.count()
        n_day = ev.filter(F.col("day") == some_day).count()
        assert n_match == n_day > 0


class TestExecution:
    def test_q1_whole_stage_codegen(self, spark):
        """The agg pipeline must run inside WholeStageCodegen (the Tungsten
        fast path replacing the reference's interpreted per-record Python)."""
        plan = plan_of(spark, "agg_groupby_hash", adaptive=False)
        # formatted mode marks codegen-stage operators with a leading '*'
        assert "* HashAggregate" in plan and "* Filter" in plan

    def test_no_python_udf_in_native_queries(self, spark):
        """ref_unit_parse is specified as pure column expressions - a
        BatchEvalPython/ArrowEvalPython node would mean the hot path fell
        off the JVM."""
        for name in ("ref_unit_parse", "ref_ts_parse", "text_quality_score"):
            plan = plan_of(spark, name)
            assert "EvalPython" not in plan, name


class TestAdvancedPlans:
    @pytest.mark.parametrize("name", ["subq_scalar_correlated", "subq_in_notin"])
    def test_subqueries_decorrelate_to_joins(self, spark, name):
        """Catalyst must rewrite the subqueries into joins (semi/anti/agg+
        join) - a per-row Subquery node or a cartesian product would
        re-execute the inner query per outer row."""
        plan = plan_of(spark, name)
        assert "Subquery" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan

    @pytest.mark.parametrize(
        "name",
        [
            "sample_hash_det",
            "text_repetition",
            "pipeline_mix_sample",
            "sim_embed_quantize",
        ],
    )
    def test_mapside_queries_have_zero_shuffles(self, spark, name):
        """Key-hash sampling (plain and stratified), per-doc repetition
        scoring, and embedding quantization are pure row transforms: any
        Exchange would mean an accidental shuffle that turns a linear scan
        into a cluster-wide repartition at 100 TB."""
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name

    @pytest.mark.parametrize(
        "name", ["pipeline_source_cap", "pipeline_shuffle_shard"]
    )
    def test_single_shuffle_window_queries(self, spark, name):
        """Quota capping and shuffle-sharding are one window each: exactly
        one shuffle (tree + detail sections of formatted explain each
        mention its Exchange once).  A second Exchange would mean the hash
        ordering expression stopped aligning with the window partition."""
        plan = plan_of(spark, name)
        assert plan.count("Exchange") <= 2, name
        assert "SortMergeJoin" not in plan, name

    def test_keyword_topk_single_explode_no_smj(self, spark):
        """text_keyword_topk derives document frequency as a window count
        over tf (one row per (doc, token)) instead of a second
        explode+distinct subtree: the corpus must be scanned at most twice
        (token explode + metadata-only N count), never re-exploded, and no
        sort-merge join may appear (the only join is the broadcast 1-row
        N)."""
        plan = plan_of(spark, "text_keyword_topk")
        assert "SortMergeJoin" not in plan
        assert plan.count("Scan parquet") <= 4  # tree + detail sections x2

    def test_runtime_bloom_filter_injects_on_selective_join(self, spark):
        """At 100 TB the cheapest shuffle is the one that never happens:
        Spark's runtime bloom-filter injection turns a selective dim
        filter into a semi-join reduction on the fact scan (rows that
        cannot match are dropped BEFORE the shuffle).  Pin that the engine
        setup actually produces the BloomFilter/might_contain plan when
        the size thresholds are met - production thresholds are
        size-based, so the test lowers them to fixture scale."""
        from pei_nwdaf_data_ingestion_spark.catalog import load as cload

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = cload(spark, SF_DIR, "lineitem")
            o = cload(spark, SF_DIR, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            plan = buf.getvalue().lower()
            assert "might_contain" in plan, "no runtime bloom filter injected"
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_range_bucketed_join_is_equi_never_nested_loop(self, spark):
        """join_range_bucketed exists to prove the no-equi-key range join
        can be an EQUI join via band bucketing: if the bucket conjunct
        ever stops driving the join, Catalyst falls back to a nested loop
        over fact x fact - the exact plan the operator is designed to
        avoid at scale."""
        plan = plan_of(spark, "join_range_bucketed")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Join" in plan

    def test_histogram_is_single_shuffle(self, spark):
        """The fixed-width histogram must be one partial+final hash agg:
        exactly one Exchange (tree + detail section each mention it once
        in formatted output), no sort."""
        plan = plan_of(spark, "agg_histogram")
        assert plan.count("Exchange") <= 2
        assert "Sort " not in plan

    def test_cooccurrence_dim_joins_broadcast(self, spark):
        """The doc-frequency sides are tiny vocabulary dims - both joins
        must broadcast; a sort-merge join would shuffle the full pair
        table twice."""
        plan = plan_of(spark, "text_cooccurrence")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_ppjoin_beyond_broadcast_gate_stays_equi_join(self, spark, monkeypatch):
        """dedup_ppjoin_prefix's prefix index is corpus-proportional, so
        beyond the size gate the broadcast hint must NOT be applied - and
        the un-hinted plan must still be an equi join on the prefix token
        (shuffled hash / sort-merge), never a cartesian or nested-loop
        (VERDICT r3 #5).  Auto-broadcast is disabled so the planner can't
        rescue an accidental cartesian with fixture-size stats."""
        from pei_nwdaf_data_ingestion_spark.queries import llm

        monkeypatch.setattr(llm, "_PPJOIN_BROADCAST_BYTES", 0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_of(spark, "dedup_ppjoin_prefix")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan

    @pytest.mark.parametrize(
        "qid",
        [
            "agg_gini_concentration",
            "pipeline_contract_audit",
            # r11: jackknife probes customer through the same gate; its
            # gated join is plan-visible (no mid-plan localCheckpoint).
            # agg_theil_decomposition / pipeline_ipf_rake ride the same
            # catalog.gated_broadcast call but lazily checkpoint the
            # joined fact frame, so their join is behind a Scan
            # ExistingRDD - the gate machinery itself is pinned here.
            "agg_jackknife_variance",
        ],
    )
    def test_fact_dim_broadcast_is_gated(self, spark, monkeypatch, qid):
        """Both ids probe against the customer table, which is
        FACT-PROPORTIONAL (grows with sf) - their broadcast hint must
        ride catalog.gated_broadcast (VERDICT r10 item 2).  Below the
        gate (fixture size) the hint applies and the customer join is a
        BroadcastHashJoin; with the gate forced to 0 and auto-broadcast
        disabled, the hint is withheld and the plan must be a shuffled
        equi join - never a cartesian/nested-loop, and never a broadcast
        that Spark's own size checks did not choose."""
        from pei_nwdaf_data_ingestion_spark import catalog

        plan = plan_of(spark, qid)
        assert "BroadcastHashJoin" in plan  # fixture side: hint applies

        monkeypatch.setattr(catalog, "FACT_BROADCAST_BYTES", 0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            gated = plan_of(spark, qid)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert "CartesianProduct" not in gated
        # scalar crossJoins of explicitly-broadcast 1/25-row agg frames
        # (jackknife's loo/dev arithmetic) legitimately plan as
        # BroadcastNestedLoopJoin CROSS even with auto-broadcast off -
        # bounded builds, not a scale hazard.  What must NOT appear is a
        # non-cross nested-loop: an equi join (the customer probe) whose
        # withheld hint degraded to a per-row loop instead of a shuffle.
        # order-insensitive check (ADVICE r11): Spark's formatted explain
        # prints the BNLJ operands (joinType, buildSide) in a version-
        # dependent order, so instead of pinning "joinType comes first"
        # require Cross SOMEWHERE among each BNLJ line's operand tokens.
        # Tree-section lines print the bare operator name with no
        # operands at all ("(58) BroadcastNestedLoopJoin") - those carry
        # no join type in any version and are skipped; the detail-section
        # header repeats the operator WITH its operands and is what the
        # check reads, whichever order a Spark version emits them in.
        non_cross_bnlj = [
            ln
            for ln in gated.splitlines()
            if "BroadcastNestedLoopJoin" in ln
            and ln.split("BroadcastNestedLoopJoin", 1)[1].strip()
            and "Cross" not in ln
        ]
        assert non_cross_bnlj == []
        assert "SortMergeJoin" in gated or "ShuffledHashJoin" in gated


class TestNtileRangeConsistency:
    def test_rank_branches_share_one_materialized_frame(self, spark):
        """win_ntile (via functions.global_rank) must get cross-branch pid
        consistency STRUCTURALLY: the counts/offsets branch and the rank
        join both scan the single lazily-checkpointed indexed frame - the
        plan shows ExistingRDD scans and NO live range exchange that each
        branch could re-plan differently.  (Round 6 observed AQE runtime
        coalescing corrupt the rank when the two branches planned their
        own copies of the range exchange; the checkpoint removes that
        failure mode by construction.)  The id-encoding spelling also
        means no Window operator and no SinglePartition exchange appear
        anywhere.  (An Exchange SinglePartition still appears for the
        legitimate 1-row n_total aggregate - that is a count, not a
        sort.)"""
        import re

        plan = plan_of(spark, "win_ntile")
        assert plan.count("Scan ExistingRDD") >= 2
        assert len(re.findall(r"rangepartitioning\(", plan)) == 0
        assert "Window" not in plan

    def test_global_rank_is_exact_permutation(self, spark):
        """The distributed rank must be a bijection onto 1..n that agrees
        with the driver-side sort - the property the r6 pid-drift bug
        violated."""
        from pei_nwdaf_data_ingestion_spark.catalog import load
        from pei_nwdaf_data_ingestion_spark.functions import global_rank

        o = load(spark, SF_DIR, "orders")
        r = global_rank(o, ["o_totalprice", "o_orderkey"], out="rn")
        pdf = (
            r.select("o_totalprice", "o_orderkey", "rn")
            .toPandas()
            .sort_values(["o_totalprice", "o_orderkey"])
            .reset_index(drop=True)
        )
        assert list(pdf["rn"]) == list(range(1, len(pdf) + 1))


class TestRound6Plans:
    def test_attribution_is_single_shuffle_no_join(self, spark):
        """events_attribution_lasttouch's whole point is the union+window
        spelling of the fact-internal as-of: ONE shuffle (the user_id
        window exchange, tree + detail = 2 mentions) and NO join operator
        of any kind - the range-join spelling it replaces would show a
        second exchange and a join."""
        plan = plan_of(spark, "events_attribution_lasttouch")
        assert plan.count("Exchange") <= 2
        for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
            assert j not in plan

    def test_pq_encode_joins_broadcast_only(self, spark):
        """PQ encode shuffles no subvector against the codebook: the
        codebook is one broadcast row and each subvector takes an inline
        argmin over its own subspace, so the only join is the broadcast
        nested-loop join with that row and the plan has no shuffle
        Exchange and no sort-merge join.  Inspected on the
        un-checkpointed build plan (_pq_codes_plan): the cached/
        checkpointed index the query itself scans replaces the subtree
        with an RDD scan, by design."""
        from pei_nwdaf_data_ingestion_spark.catalog import load
        from pei_nwdaf_data_ingestion_spark.queries.llm import (
            _pq_codes_plan,
            _vq_col,
        )

        e = load(spark, SF_DIR, "embeddings")
        vecs = e.filter(F.col("vec_id") != 0).select(
            "vec_id", _vq_col(F.col("embedding").cast("array<double>")).alias("vq")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _pq_codes_plan(spark, SF_DIR, vecs).explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastNestedLoopJoin" in plan
        assert_map_only(plan)

    def test_ivf_assign_is_map_only(self, spark):
        """The IVF nearest-centroid assignment over a built centroid frame
        is map-only: the K centroids are one broadcast row, so no vector
        row is shuffled to find its argmin."""
        from pei_nwdaf_data_ingestion_spark.catalog import load
        from pei_nwdaf_data_ingestion_spark.queries.llm import (
            _ivf_assign,
            _ivf_cents_df,
            _ivf_centroid_rows,
            _vq_col,
        )

        e = load(spark, SF_DIR, "embeddings")
        v = F.col("embedding").cast("array<double>")
        vecs = e.filter(F.col("vec_id") != 0).select(
            "vec_id", "label", v.alias("v"), _vq_col(v).alias("vq")
        )
        cents = _ivf_cents_df(spark, _ivf_centroid_rows(spark, SF_DIR, vecs, 16))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _ivf_assign(vecs, cents).explain("formatted")
        plan = buf.getvalue()
        assert "LocalTableScan" in plan
        assert_map_only(plan)

    def test_zorder_key_is_single_agg_shuffle(self, spark):
        """The Morton interleave is pure map-side arithmetic: the only
        exchange is the final per-file-id stats agg."""
        plan = plan_of(spark, "pipeline_zorder_key")
        assert plan.count("Exchange") <= 2
        assert "Join" not in plan


class TestRound6bPlans:
    def test_phash_dedup_is_equi_join_never_cartesian(self, spark):
        """Both banding self-joins must plan as hash/sort-merge EQUI joins
        on the byte band key - a cartesian or broadcast-nested-loop here
        means the banding rewrite regressed to all-pairs."""
        plan = plan_of(spark, "dedup_phash_hamming")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_asof_nearest_is_single_shuffle_no_join(self, spark):
        """The nearest as-of is the union-stream + two-frame window
        spelling: one user_id window exchange, zero join operators."""
        plan = plan_of(spark, "join_asof_nearest")
        assert plan.count("Exchange") <= 2  # tree + detail of one exchange
        for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
            assert j not in plan

    def test_compaction_bins_agg_reuses_window_partitioning(self, spark):
        """The per-source window and the (source, bin) agg share the
        source hash partitioning: exactly one data shuffle."""
        plan = plan_of(spark, "pipeline_compaction_bins")
        # one Exchange appears twice in formatted output (tree + detail)
        assert plan.count("Exchange hashpartitioning") <= 2
        assert "Join" not in plan

    def test_anomaly_zscore_single_data_shuffle(self, spark):
        """The daily-count agg is the only data-volume shuffle; the stats
        window runs over the aggregated ~150-row frame."""
        plan = plan_of(spark, "events_anomaly_zscore")
        assert "Join" not in plan

    def test_pagerank_no_cartesian_and_integer_ranks(self, spark):
        """Each PageRank iteration must stay an equi hash join + hash agg;
        the output rank column must be integral (the cross-engine
        determinism contract)."""
        from pei_nwdaf_data_ingestion_spark import registry

        df = registry.QUERIES["graph_pagerank_iter"](spark, SF_DIR)
        assert dict(df.dtypes)["rank_micro"] == "bigint"
        plan = plan_of(spark, "graph_pagerank_iter")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound6cPlans:
    def test_bm25_probe_broadcasts_query_terms(self, spark):
        """BM25's postings probe must broadcast the query-term set (one
        query's tokens) - shuffling the postings against a ~100-row dim
        would be the wrong plan at any scale."""
        plan = plan_of(spark, "sim_bm25_topk")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_maxsim_doc_side_never_shuffles_for_the_probe(self, spark):
        """MaxSim's query side is broadcast; the doc side's only exchange
        is its deliberate _spread repartition + the two aggs."""
        plan = plan_of(spark, "sim_maxsim_multivector")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_json_csv_sources_scan_with_explicit_schema(self, spark):
        """Source round-trips must not run schema inference (an extra full
        scan at 100 TB): the scan node carries the user schema."""
        for name, fmt in (("scan_json_source", "json"), ("scan_csv_source", "csv")):
            plan = plan_of(spark, name)
            assert f"Scan {fmt}" in plan, name

    def test_time_range_frame_single_window_shuffle(self, spark):
        plan = plan_of(spark, "win_time_range_frame")
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_decimal_money_sums_are_decimal_typed(self, spark):
        """The money aggregation must run in decimal arithmetic, not
        re-enter doubles before the render."""
        from pei_nwdaf_data_ingestion_spark import registry

        df = registry.QUERIES["agg_decimal_money"](spark, SF_DIR)
        plan = plan_of(spark, "agg_decimal_money")
        assert "sum(" in plan and "decimal(" in plan.lower()
        assert dict(df.dtypes)["total_price"] == "string"


class TestSession2Plans:
    def test_bloom_prefilter_bits_broadcast_probe_never_shuffles_for_join(self, spark):
        """The entire point of the bloom prefilter: the probe stream joins
        the bit table via BroadcastHashJoin x3 - no SortMergeJoin, no
        shuffle of the probe for any of the membership joins."""
        p = plan_of(spark, "join_bloom_prefilter")
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p

    def test_kmeans_centroids_broadcast(self, spark):
        """N x K distance evaluation must ride a broadcast nested loop /
        hash of the K-row centroid table - a shuffled or sort-merge
        cross join would be a scale-killer at any N."""
        p = plan_of(spark, "sim_kmeans_lloyd_step")
        assert "Broadcast" in p
        assert "SortMergeJoin" not in p

    def test_ohlc_is_single_shuffle_agg_no_window(self, spark):
        """min_by/max_by spelling: ONE exchange - and it carries PARTIAL
        aggregates (8 accumulator fields per bar), never raw events; no
        Window operator anywhere.  (Struct-keyed min_by plans as
        SortAggregate - the map-side sort is partition-local on the bar
        key, which is fine; a Window would mean a full shuffle of the
        raw stream.)"""
        p = plan_of(spark, "time_resample_ohlc")
        assert p.count("Exchange") <= 2  # partial->final agg pair
        assert "Window" not in p
        assert "partial_min_by" in p  # exchange input is combined partials

    def test_gopher_rules_zero_joins(self, spark):
        p = plan_of(spark, "text_gopher_rules")
        assert "Join" not in p

    def test_length_buckets_single_data_shuffle(self, spark):
        """One data-volume agg + a broadcast 1-row global max."""
        p = plan_of(spark, "pipeline_length_buckets")
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_random_projection_no_joins_two_aggs(self, spark):
        """Pure explode -> hash agg -> render agg pipeline: any join in
        this plan means the sign matrix got materialized somewhere."""
        p = plan_of(spark, "sim_random_projection")
        assert "Join" not in p
        assert "HashAggregate" in p


class TestSession2bPlans:
    def test_contract_audit_is_one_wide_aggregate(self, spark):
        """Six constraints must ride ONE aggregate over one scan plus the
        broadcast FK probe - a per-rule scan would read the fact table
        six times."""
        p = plan_of(spark, "pipeline_contract_audit")
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        # one events scan feeding the single wide agg (the 6 report rows
        # are a union over the SAME 1-row aggregate, reused not rescanned)
        assert p.count("Scan parquet") <= 8  # union re-references, no joins

    def test_market_basket_dims_broadcast(self, spark):
        p = plan_of(spark, "agg_market_basket_lift")
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p

    def test_ks_window_runs_over_distinct_values_not_samples(self, spark):
        """The ECDF window must sit ABOVE the per-cents aggregate: a
        HashAggregate keyed by cents feeds the Window, so the sorted
        frame is |distinct values| rows."""
        p = plan_of(spark, "agg_ks_drift")
        assert "Window" in p and "HashAggregate" in p
        w = p.index("Window")
        assert "HashAggregate" in p[w:] or "HashAggregate" in p[:w]

    def test_sweepline_single_data_shuffle(self, spark):
        """Delta rows aggregate once on day_id; the running sum reuses a
        bounded grid - no join anywhere."""
        p = plan_of(spark, "time_sweepline_open_intervals")
        assert "Join" not in p
        assert "Window" in p


class TestSession2cPlans:
    def test_overlap_agg_campaign_dim_broadcasts(self, spark):
        p = plan_of(spark, "join_interval_overlap_agg")
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p

    def test_two_hop_expansion_stays_equi_join(self, spark):
        """The s-s' expansion must ride the part-key equi join (inverted
        index), never a cartesian - the cap guarantees bounded fan-out,
        the plan must show the hash-keyed join."""
        p = plan_of(spark, "graph_two_hop_reach")
        assert "CartesianProduct" not in p
        assert "Join" in p

    def test_neyman_runs_on_strata_frame_only(self, spark):
        """One data-volume aggregate; every later step (weights, totals,
        remainders, rank) lives on the |strata|-row frame - so exactly
        one scan of documents in the plan."""
        p = plan_of(spark, "pipeline_sample_neyman")
        assert p.count("Scan parquet") <= 2  # base agg (+ reused ref)


class TestMinhashPairRegimes:
    """The LSH verified-pair builder (round 7) has two size-gated physical
    regimes; both must stay equi-joins and agree on results."""

    def _fresh_pairs(self, spark):
        # the un-checkpointed plan (the cached wrapper's final
        # localCheckpoint replaces the whole subtree with an RDD scan)
        from pei_nwdaf_data_ingestion_spark.queries import llm

        artifacts.clear(SF_DIR)
        return llm._minhash_pairs_plan(spark, SF_DIR)

    def test_broadcast_regime_plan(self, spark):
        """Below the gate the banded build side broadcasts: 4 broadcast
        hash joins on the band keys, no shuffle exchange feeding them,
        never a cartesian.  Both builders run the one shared
        candidate+verify join (_banded_pairs).  No band bucket is over the
        cap at the test scale, so neither may plan the hot-flag left
        joins: the probe finds no hot bucket and the literal-false flags
        fold the cap away."""
        from pei_nwdaf_data_ingestion_spark.queries import llm

        for build in (llm._minhash_pairs_plan, llm._two_stage_pairs_plan):
            artifacts.clear(SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                build(spark, SF_DIR).explain("formatted")
            plan = buf.getvalue()
            assert "BroadcastHashJoin" in plan, build.__name__
            assert "CartesianProduct" not in plan, build.__name__
            assert "BroadcastNestedLoopJoin" not in plan, build.__name__
            assert "LeftOuter" not in plan, build.__name__

    def test_salted_regime_plan_and_equality(self, spark, monkeypatch):
        """Beyond the gate: the probe side fans out over _MH_SALTS and the
        join keys on (band, salt) - a shuffled equi join (no cartesian),
        and the verified pair set is IDENTICAL to the broadcast regime's
        (salting is physical, never semantic)."""
        import contextlib
        import io

        from pei_nwdaf_data_ingestion_spark.queries import llm

        base = {
            (r["doc_a"], r["doc_b"]) for r in self._fresh_pairs(spark).collect()
        }
        artifacts.clear(SF_DIR)
        monkeypatch.setattr(llm, "_MH_BROADCAST_BYTES", 0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = llm._minhash_pairs_plan(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            got = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            artifacts.clear(SF_DIR)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert got == base and len(base) > 0

    def test_two_stage_salted_regime_equality(self, spark, monkeypatch):
        """dedup_two_stage (round 8): beyond the gate its probe side fans
        out over _MH_SALTS exactly like _minhash_pairs_plan - the salted
        shuffle must stay an equi join and return the broadcast regime's
        exact pair ledger (copies and jaccard included)."""
        import contextlib
        import io

        from pei_nwdaf_data_ingestion_spark.queries import llm

        def rows(df):
            return {
                (r["doc_a"], r["doc_b"], r["copies_a"], r["copies_b"], r["jaccard"])
                for r in df.collect()
            }

        base = rows(llm._two_stage_pairs_plan(spark, SF_DIR))
        monkeypatch.setattr(llm, "_MH_BROADCAST_BYTES", 0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = llm._two_stage_pairs_plan(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            got = rows(df)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert got == base and len(base) > 0


class TestNoPythonStage:
    """Driver-built tables are Arrow local relations: none of these builds
    runs a stage over a PythonRDD, which createDataFrame(<list>) would
    add (and with it a pyspark.daemon and its workers).  Each runs on a
    cleared artifact store, so the cached k-means builds run too."""

    @pytest.mark.parametrize(
        "name",
        [
            "sim_ivf_topk",
            "sim_pq_encode",
            "time_cross_correlation",
            "text_vocab_coverage_curve",
            "pipeline_observe_metrics",
            "sim_mmr_rerank",
            "dedup_cluster_components",
        ],
    )
    def test_build_runs_no_python_stage(self, spark, name):
        from tests.conftest import in_group, python_stages_of

        artifacts.clear()
        _, group = in_group(
            spark, lambda: registry.QUERIES[name](spark, SF_DIR).collect()
        )
        assert python_stages_of(spark, group) == 0
