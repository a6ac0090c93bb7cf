"""Catalog load invariants.

The driver regenerates /root/testdata fixtures between rounds, and parquet
timestamp encodings have already shifted twice (TIMESTAMP(NANOS) in r1-r3,
isAdjustedToUTC=false TIMESTAMP_MICROS since r4 - which Spark 4.x loads as
TIMESTAMP_NTZ).  `unix_millis()` and `withWatermark()` reject NTZ, so a
silent fixture regeneration must fail HERE, not in the driver's sample.
catalog._read is the single choke point every query loads through; it must
always yield plain TimestampType for time columns.

The schema memo (catalog module docstring) is pinned here too: a warm load
runs no Spark job, a rewritten file is inferred again, and no DataFrame is
shared between loads.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pei_nwdaf_data_ingestion_spark import artifacts, catalog

from conftest import SF_DIR, jobs_of

# every fixture table's time column(s) - extend if the driver adds tables
TIME_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def test_no_ntz_ever_leaves_the_catalog(spark):
    for table in catalog.TABLES:
        df = catalog.load(spark, SF_DIR, table)
        ntz = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampNTZType)
        ]
        assert not ntz, (
            f"{table}: columns {ntz} load as TIMESTAMP_NTZ - catalog._read "
            f"must cast them to TimestampType (unix_millis/withWatermark "
            f"reject NTZ)"
        )


def test_time_columns_are_plain_timestamps(spark):
    for table, cols in TIME_COLS.items():
        df = catalog.load(spark, SF_DIR, table)
        for c in cols:
            dt = df.schema[c].dataType
            assert isinstance(dt, T.TimestampType), (
                f"{table}.{c}: expected TimestampType, got {dt}"
            )


def test_ntz_cast_is_value_preserving_utc(spark):
    """The NTZ->timestamp cast reinterprets the wall clock as UTC (session
    TZ pinned in catalog.load), matching DuckDB's rendering of the same
    file - pin one concrete value end-to-end."""
    import duckdb

    ev = catalog.load(spark, SF_DIR, "events")
    got = (
        ev.orderBy("event_id")
        .selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS s")
        .first()["s"]
    )
    want = duckdb.sql(
        f"SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') FROM "
        f"read_parquet('{SF_DIR}/events.parquet') ORDER BY event_id LIMIT 1"
    ).fetchone()[0]
    assert got == want


def test_cache_partitioning_floors_at_shuffle_width(spark, monkeypatch):
    """r6 regression pin (VERDICT r5 item 1): the warm table cache must
    never coalesce a non-tiny table below the shuffle width - a
    1-partition cached documents table starved every self-join pipeline
    (PPJoin measured 2-3x slower).  Tiny dims still coalesce to 1."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_CACHE", "1")
    sf = "/root/testdata/sf0.01"  # lineitem is ~1 MiB here (>= 256 KiB gate)
    artifacts.clear(sf)
    try:
        li = catalog.load(spark, sf, "lineitem")
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        want = min(spark.sparkContext.defaultParallelism, max(shuf, 1))
        assert li.rdd.getNumPartitions() >= want
        assert catalog.load(spark, sf, "region").rdd.getNumPartitions() == 1
    finally:
        artifacts.clear(sf)


def test_warm_load_runs_no_spark_job(spark):
    for table in catalog.TABLES:
        first = catalog.load(spark, SF_DIR, table)
        second, jobs = jobs_of(spark, lambda: catalog.load(spark, SF_DIR, table))
        assert jobs == 0, f"{table}: a warm load ran {jobs} Spark job(s)"
        assert second.schema.json() == first.schema.json(), table


def test_warm_cold_fanout_load_reads_its_copy_without_a_job(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_COLD_FANOUT", "1")
    # lineitem is ~1 MiB at sf0.01 (>= 256 KiB gate)
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    first = catalog.load(spark, sf, "lineitem")
    second, jobs = jobs_of(spark, lambda: catalog.load(spark, sf, "lineitem"))
    assert jobs == 0, f"a warm re-chunked load ran {jobs} Spark job(s)"
    files = second.inputFiles()
    assert files and all("coldchunk_lineitem_" in f for f in files), files
    assert second.schema.json() == first.schema.json()
    import duckdb

    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf}/lineitem.parquet')"
    ).fetchone()[0]
    assert second.count() == want


def test_rewritten_file_is_resolved_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert catalog.load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"k": [7], "x": [0.5], "y": ["z"]}), path)
    df = catalog.load(spark, str(tmp_path), "region")
    assert df.columns == ["k", "x", "y"]
    assert [tuple(r) for r in df.collect()] == [(7, 0.5, "z")]


def test_two_loads_self_join_on_column_references(spark):
    a = catalog.load(spark, SF_DIR, "events")
    b = catalog.load(spark, SF_DIR, "events")
    joined = a.join(b, a["event_id"] == b["event_id"]).select(a["event_id"], b["ts"])
    assert joined.count() == a.count()


def test_missing_fixture_names_table_and_path(spark, tmp_path):
    path = os.path.join(str(tmp_path), "orders.parquet")
    with pytest.raises(FileNotFoundError, match="'orders'") as err:
        catalog.load(spark, str(tmp_path), "orders")
    assert path in str(err.value)
