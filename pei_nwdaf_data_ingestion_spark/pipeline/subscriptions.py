"""Subscription dimension maintenance - the Spark dual of the reference's
NfRegistry (registry.py:9-109: SQLite table + write-through cache, upsert =
INSERT OR REPLACE, reads return copies).

Storage is a parquet directory (a Delta/Iceberg table in production - MERGE
would replace the read-modify-write below; gated off since those jars are
not in this image).  Semantics preserved:

- add() upserts with last-write-wins on notif_id   (registry.py:76-88)
- remove() deletes by key                           (registry.py:97-105)
- get()/list() read current state                   (registry.py:92-95,107-109)
- state survives 'restart' (a new instance on the same path sees the same
  rows - asserted like tests/test_registry.py:63-112)

The DATA PLANE reads the store once, when a pipeline is built:
pipeline/nef.py collects load() into a literal notif_id -> context map, the
dual of the reference's in-memory cache.  A running stream keeps that
snapshot; restart it to pick up subscription changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .nef import SUBSCRIPTION

# the append log's rows: declared, so a read resolves no parquet footers
_LOG_SCHEMA = T.StructType(
    SUBSCRIPTION.fields
    + [T.StructField("_seq", T.LongType()), T.StructField("_deleted", T.BooleanType())]
)


class SubscriptionStore:
    """Keyed upsert store over a parquet path with last-write-wins compaction."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        # last _seq this instance wrote: keeps appends O(1) within a
        # process (the first append still reads max(_seq) back from the
        # log - see _next_seq).  Safe under the documented single-writer
        # assumption; compact() rewrites seqs, so it invalidates.
        self._seq_cache: int | None = None

    # -- reads ---------------------------------------------------------------

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def load(self) -> DataFrame:
        """Current state: latest row per notif_id (the compaction view).
        `_seq` is a monotonically increasing write sequence - ties on
        created_at resolve to the later write, matching INSERT OR REPLACE."""
        if not self._exists():
            return self.spark.createDataFrame([], SUBSCRIPTION)
        raw = self.spark.read.schema(_LOG_SCHEMA).parquet(self.path)
        w = W.partitionBy("notif_id").orderBy(F.desc("_seq"))
        # rank BEFORE dropping tombstones: a delete must shadow every older
        # live version of the key, not be filtered out from under it.
        # coalesce(1): the dimension is tiny by design (pipelines collect it
        # whole, pipeline/nef.py) and one partition already satisfies the
        # window's clustering, so the ranking needs no shuffle.
        return (
            raw.coalesce(1)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col("_deleted"))
            .drop("_rn", "_seq", "_deleted")
        )

    def get(self, notif_id: str) -> dict | None:
        rows = self.load().filter(F.col("notif_id") == notif_id).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def list(self) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.load().collect()]

    # -- writes (append-log + compact-on-read; Delta MERGE in production) -----

    def _next_seq(self) -> int:
        """Next write sequence = max(_seq in log) + 1.  Log-derived (not a
        clock): time.monotonic_ns has an unspecified epoch that resets across
        process/host restarts, so a restarted writer could emit _seq below
        rows already in the log and invert last-write-wins.  Reading the max
        back makes ordering a property of the log itself; single-writer
        control plane, so no concurrent-append race (Delta MERGE is the
        multi-writer production path)."""
        if self._seq_cache is not None:
            return self._seq_cache + 1
        if not self._exists():
            return 1
        m = (
            self.spark.read.schema(_LOG_SCHEMA).parquet(self.path)
            .agg(F.max("_seq").alias("m"))
            .collect()
        )
        return int(m[0]["m"] or 0) + 1

    def _append(self, rows: list[dict], deleted: bool) -> None:
        df = self.spark.createDataFrame(rows, SUBSCRIPTION)
        seq = self._next_seq()
        df = df.withColumn("_seq", F.lit(seq).cast("long")).withColumn(
            "_deleted", F.lit(deleted)
        )
        df.coalesce(1).write.mode("append").parquet(self.path)
        self._seq_cache = seq

    def add(self, sub: dict) -> None:
        """Upsert one subscription (reference add(), registry.py:55-89)."""
        self._append([sub], deleted=False)

    def remove(self, notif_id: str) -> bool:
        """Delete by key; returns whether it existed (registry.py:97-105)."""
        existing = self.get(notif_id)
        if existing is None:
            return False
        self._append([existing], deleted=True)
        return True

    def compact(self) -> None:
        """Rewrite the log as its compaction view (bounded storage; the
        production dual is Delta OPTIMIZE / periodic MERGE)."""
        current = self.load().collect()
        tmp = self.path + ".compact"
        df = self.spark.createDataFrame(current, SUBSCRIPTION)
        # cast: _append writes _seq as int64; a literal 0 would be int32 and
        # the mixed-type log directory fails schema inference
        df = df.withColumn("_seq", F.lit(0).cast("long")).withColumn(
            "_deleted", F.lit(False)
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        final = self.spark.read.parquet(tmp)
        final.coalesce(1).write.mode("overwrite").parquet(self.path)
        self._seq_cache = None
