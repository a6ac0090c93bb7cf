"""Structured Streaming ingest - the reference's push pipeline
(receiver.py:354-458) as readStream -> shared transforms -> foreachBatch.

The reference is at-most-once (produce failure swallowed,
receiver.py:444-456); Structured Streaming checkpointing upgrades this to
exactly-once per micro-batch (documented semantics upgrade, SURVEY.md 7.4.7).

In production the source is Kafka (`readStream.format("kafka")` fronted by an
HTTP->Kafka shim replacing the FastAPI endpoint); locally/in tests a file
source with the same JSON payloads drives identical plans.  The transform is
pipeline/nef.normalize_notifications - the batch-tested code path, reused
verbatim.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.nef import NOTIFICATION, normalize_notifications


def read_notification_stream(spark: SparkSession, json_dir: str) -> DataFrame:
    """File-source stream of NEF notification JSON (one object per line).
    Kafka variant: readStream.format('kafka') -> from_json(value, NOTIFICATION).
    """
    return (
        spark.readStream.schema(NOTIFICATION)
        .option("maxFilesPerTrigger", 1)
        .json(json_dir)
    )


def build_ingest_stream(
    spark: SparkSession,
    json_dir: str,
    subscriptions: DataFrame,
) -> DataFrame:
    """Streaming normalized-record relation: the shared normalizer DAG over
    the notification stream.  Caller attaches the sink (foreachBatch for
    Kafka/keyed fan-out, memory for tests).

    The subscription dimension is read once, now, into the plan's literal
    context map: restart the stream to pick up subscription changes.  The
    timestamp fallback is the spool file's modification time, i.e. when
    the shim accepted the POST (the reference's now(), receiver.py:128).
    It is a column, not a per-batch literal, so it stays the same when an
    epoch is replayed and every micro-batch reuses the same generated
    code."""
    raw = read_notification_stream(spark, json_dir)
    received = F.unix_timestamp(F.col("_metadata.file_modification_time"))
    return normalize_notifications(raw, subscriptions, fallback_ts=received)


def run_to_memory(
    stream: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a bounded stream synchronously into the in-memory table `name`
    and return that table (test harness and declared streaming queries;
    production sinks are foreachBatch -> Kafka / keyed fan-out)."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(name)


def write_notifications_json(payloads: list[dict], out_dir: str) -> None:
    """Test helper: materialize notification payloads as JSON-lines files
    (one file per payload -> one micro-batch per payload with
    maxFilesPerTrigger=1)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, p in enumerate(payloads):
        path = os.path.join(out_dir, f"notif_{i:04d}.json")
        with open(path, "w") as f:
            f.write(json.dumps(p) + "\n")
