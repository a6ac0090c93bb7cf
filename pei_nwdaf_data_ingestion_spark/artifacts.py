"""Cross-query artifact store.

Some builds are deterministic and expensive, and many query invocations
read the same result: the cached fixture tables and their re-chunked
copies, IVF/PQ codebooks and codes, MinHash signatures and verified pairs,
graph adjacency and projections, and prepared source directories.  An
index of this kind is built once and probed many times in a real
deployment, so the builders store their result here and later
invocations reuse it.

Entries are keyed by (sf, kind, params): `sf` is the scale-factor
directory the artifact was built from, `kind` names the artifact and
`params` holds the build parameters that change its value.  The store
only holds entries of the current Spark application.  PySpark runs one
SparkContext per process, so a call from a new application id drops
every older entry first; those entries refer to a stopped context and
are not unpersisted.  `clear` drops entries on demand and unpersists the
persisted DataFrames in them; lazily checkpointed frames are released by
Spark's ContextCleaner once no reference to them is left.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()
_app: str | None = None
# (sf, kind, params) -> stored value, for application _app only
_entries: dict[tuple, Any] = {}
# kind -> {"hits", "misses", "build_s"}, cumulative over the process
_stats: dict[str, dict[str, float]] = {}


def memo(
    spark: SparkSession, sf: str, kind: str, build: Callable[[], Any], *params
) -> Any:
    """The stored value for (sf, kind, params) in the current application,
    or `build()`'s result, stored for later calls.

    A `build` that raises stores nothing.  Two threads that miss on one
    key at once both build; the first value stored is returned to both.
    Build seconds are the wall time of `build()` itself, nested builds
    included; a lazy checkpoint is materialized by the first action that
    reads it, outside this timing."""
    global _app
    app = spark.sparkContext.applicationId
    key = (sf, kind, params)
    with _lock:
        if app != _app:
            _entries.clear()
            _app = app
        counts = _stats.setdefault(kind, {"hits": 0, "misses": 0, "build_s": 0.0})
        if key in _entries:
            counts["hits"] += 1
            return _entries[key]
        counts["misses"] += 1
    t0 = time.perf_counter()
    value = build()
    with _lock:
        counts["build_s"] += time.perf_counter() - t0
        if app == _app:
            value = _entries.setdefault(key, value)
    return value


def _frames(value: Any):
    """The DataFrames in a stored value: the value itself or a tuple
    member."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, tuple):
        for v in value:
            yield from _frames(v)


def clear(sf: str | None = None) -> None:
    """Drop the entries built from scale-factor directory `sf` (matched
    exactly), or every entry when `sf` is None, and unpersist each
    persisted DataFrame they hold.  Counters in `stats()` are kept."""
    with _lock:
        keys = [k for k in _entries if sf is None or k[0] == sf]
        dropped = [_entries.pop(k) for k in keys]
    for value in dropped:
        for df in _frames(value):
            if df.is_cached:
                df.unpersist(blocking=True)


def stats() -> dict[str, dict[str, float]]:
    """Per kind: `hits`, `misses` and `build_s` (seconds spent in
    `build()`), counted since the process started."""
    with _lock:
        return {kind: dict(c) for kind, c in _stats.items()}


def scratch_dir(prefix: str) -> str:
    """A new temporary directory, removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
