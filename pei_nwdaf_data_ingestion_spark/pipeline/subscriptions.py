"""Subscription dimension maintenance - the reference's NfRegistry
(registry.py:9-109): a full in-memory dict cache, written through on every
change.  Where the reference writes to SQLite, the whole dict is one JSON
file replaced atomically (tmp, flush, fsync, os.replace).  Kept: upsert is
last-write-wins (:76-88), remove deletes by key (:97-105), reads return
copies (:92-95,107-109), and a new instance on the same path sees the same
state (tests/test_registry.py:63-112).  No add/get/list/remove runs a job.

Single writer: one instance owns its file; its lock lets the threads of one
process (the shim's handlers) share it.  A second instance writing the same
path would overwrite the first one's state.

The data plane reads load(), the snapshot on the static side of the
stream-static plan, once when a pipeline is built (pipeline/nef.py collects
it into a literal map); restart a stream to pick up subscription changes.
load() is a local relation built from Arrow on the driver, so reading it
runs no Spark job and starts no Python worker.
"""

from __future__ import annotations

import copy
import json
import os
import threading

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .nef import SUBSCRIPTION

_ARROW_SCHEMA = to_arrow_schema(SUBSCRIPTION)


class SubscriptionStore:
    """notif_id -> subscription dict, written through to one JSON file."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._lock = threading.Lock()
        self._subs: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._subs = json.load(f)

    def load(self) -> DataFrame:
        # a LocalRelation: collecting it runs no job, so building a
        # pipeline never launches a Python worker
        table = pa.Table.from_pylist(self.list(), schema=_ARROW_SCHEMA)
        return self.spark.createDataFrame(table, SUBSCRIPTION)

    def get(self, notif_id: str) -> dict | None:
        with self._lock:
            return copy.deepcopy(self._subs.get(notif_id))

    def list(self) -> list[dict]:
        """Every subscription, in notif_id order."""
        with self._lock:
            return [copy.deepcopy(self._subs[k]) for k in sorted(self._subs)]

    def check(self, sub: dict) -> dict:
        """`sub` as the row add() would store: exactly the SUBSCRIPTION
        fields, a missing one None, an extra key dropped.  A notif_id that
        is not a string raises ValueError.  A field that does not fit
        raises PySparkTypeError from createDataFrame's check (no job), or
        an Arrow TypeError/ValueError from load()'s own conversion, which
        also refuses a non-string value in a string field."""
        if not isinstance(sub.get("notif_id"), str):
            raise ValueError("a subscription needs a string notif_id")
        self.spark.createDataFrame([sub], SUBSCRIPTION)
        return pa.Table.from_pylist([sub], schema=_ARROW_SCHEMA).to_pylist()[0]

    def add(self, sub: dict) -> None:
        """Upsert one subscription (registry.py:55-89) as check() returns
        it; a row check() rejects raises here and nothing is stored."""
        row = self.check(sub)
        with self._lock:
            self._replace({**self._subs, row["notif_id"]: row})

    def remove(self, notif_id: str) -> bool:
        """Delete by key; returns whether it existed (registry.py:97-105)."""
        with self._lock:
            if notif_id not in self._subs:
                return False
            self._replace({k: v for k, v in self._subs.items() if k != notif_id})
            return True

    def _replace(self, subs: dict[str, dict]) -> None:
        """Write `subs` to the file, then make it the state, so a failed
        write changes neither.  The caller holds the lock."""
        os.makedirs(os.path.dirname(os.path.abspath(self.path)), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(subs, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)
        self._subs = subs
