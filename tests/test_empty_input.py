"""Empty-input parity sweep (VERDICT r7 item 8): every oracled query runs
against a 0-row copy of ALL ten fixture tables (schemas preserved byte-exact
by slicing the real sf0.001 parquet to zero rows, keeping timestamp
encodings), and Spark must agree with DuckDB on the empty input too - the
remaining untested degenerate after round 7's short-doc / zero-norm /
zero-denominator sweeps.  first()/limit/collect-probe semantics and
global-aggregate-on-empty (count -> one 0 row, sum/avg -> NULL) are exactly
where engines drift.

Queries that drive a driver-side probe/codebook build from collected rows
(the ANN family collects the vec_id=0 probe vector or k-means seed rows)
degrade to an EMPTY result frame with the declared schema instead of
crashing - the guard every 100 TB job wants when a filter leaves a stage
empty - and their oracles produce zero rows on the same input, so the
comparison stays exact.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from pei_nwdaf_data_ingestion_spark import registry
from tests.conftest import SF_DIR, assert_frames_match

registry.load_all()

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        pq.write_table(pq.read_table(src).slice(0, 0), d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def empty_ddb(empty_sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_empty_input_matches_oracle(spark, empty_sf_dir, empty_ddb, name):
    spark_pdf = registry.QUERIES[name](spark, empty_sf_dir).toPandas()
    oracle_pdf = empty_ddb.execute(registry.ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


class TestConvergedTwinsOnEmptyInput:
    """The convergence-gated twins (graph.pagerank_converged /
    label_propagation_converged, infostats.markov_stationary_converged)
    must treat an EMPTY graph/chain as a trivially-converged fixpoint in
    one round - not spin max_iter rounds of empty scalar jobs before
    reporting False (the delta-is-None guard)."""

    def test_pagerank_empty_graph_converges_immediately(self, spark, empty_sf_dir):
        from pei_nwdaf_data_ingestion_spark import artifacts, graph
        from pei_nwdaf_data_ingestion_spark.queries import corpus_ops

        artifacts.clear(empty_sf_dir)
        ed, deg = corpus_ops._edge_index(spark, empty_sf_dir)
        r, it, converged = graph.pagerank_converged(
            ed, deg, eps_micro=100, max_iter=50
        )
        assert converged is True and it == 1
        assert r.count() == 0

    def test_lpa_empty_graph_converges_immediately(self, spark, empty_sf_dir):
        from pei_nwdaf_data_ingestion_spark import graph
        from pei_nwdaf_data_ingestion_spark.queries import corpus_ops

        ed, _deg = corpus_ops._edge_index(spark, empty_sf_dir)
        lbl, it, converged = graph.label_propagation_converged(
            ed, pack=corpus_ops._LPA_PACK, max_iter=50
        )
        assert converged is True and it == 1
        assert lbl.count() == 0

    def test_markov_empty_chain_converges_immediately(self, spark, empty_sf_dir):
        from pei_nwdaf_data_ingestion_spark.queries import infostats

        pi, it, converged = infostats.markov_stationary_converged(
            spark, empty_sf_dir, eps_micro=16, max_iter=50
        )
        assert converged is True and it == 1
        assert pi.count() == 0
