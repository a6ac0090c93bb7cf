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
"""

from __future__ import annotations

import copy
import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession

from .nef import SUBSCRIPTION


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
        # one slice, not one per core: the first read launches one Python
        # worker, which later Python tasks (the Flight sink) all reuse warm
        rows = self.spark.sparkContext.parallelize(self.list(), 1)
        return self.spark.createDataFrame(rows, SUBSCRIPTION)

    def get(self, notif_id: str) -> dict | None:
        with self._lock:
            return copy.deepcopy(self._subs.get(notif_id))

    def list(self) -> list[dict]:
        """Every subscription, in notif_id order."""
        with self._lock:
            return [copy.deepcopy(self._subs[k]) for k in sorted(self._subs)]

    def add(self, sub: dict) -> None:
        """Upsert one subscription (registry.py:55-89), kept as exactly the
        SUBSCRIPTION fields.  createDataFrame checks the row without a job,
        so a row that does not fit raises here and nothing is stored."""
        if sub.get("notif_id") is None:
            raise ValueError("a subscription needs a notif_id")
        self.spark.createDataFrame([sub], SUBSCRIPTION)
        row = SUBSCRIPTION.fromInternal(SUBSCRIPTION.toInternal(sub))
        with self._lock:
            self._replace({**self._subs, sub["notif_id"]: row.asDict(recursive=True)})

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
