"""Differential-oracle parity: every declared query with an oracle runs on
Spark and DuckDB over the same parquet and must match (SURVEY.md section 5
blueprint: strictly stronger than the reference's mock assertions).

This locally mirrors the driver's t2 gate so breakage is caught pre-commit.
"""

from __future__ import annotations

import pytest

from pei_nwdaf_data_ingestion_spark import registry
from tests.conftest import SF_DIR, assert_frames_match, assert_no_global_window

registry.load_all()

ORACLED = sorted(registry.ORACLES)
ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, ddb, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    sdf = df.toPandas()
    odf = ddb.execute(registry.ORACLES[name]).df()
    assert_frames_match(sdf, odf, name)
    assert_no_global_window(df, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
    if not name.startswith("stream_"):
        # a stream query's frame reads its drained memory sink
        assert_no_global_window(df, name)
