"""Sinks: Kafka JSON-batch publish and Arrow Flight put - the egress half
of the reference (receiver.py:442-456 Kafka produce), as foreachBatch
writers.  The per-subscription WebSocket broadcast (:207-242,451-452) is
ws_egress.py.

Delivery semantics are an upgrade over the reference's at-most-once
(produce failure swallowed, receiver.py:444-456): foreachBatch +
checkpointing gives exactly-once per micro-batch for idempotent sinks.

Kafka itself is gated behind an import-try (no broker/client in this image);
the JSON-batch *shape* - one array of records per (notif) key, matching
receiver.py:443 - is produced by pure column expressions and tested without
a broker.  The Arrow Flight writer (flight_foreach_batch) is the
wire-level egress this image CAN exercise end-to-end: one DoPut per
micro-batch over a real gRPC socket, same packed payload contract as the
Kafka path.  It publishes from the
driver, as the reference produces from its one process, and packs there
too: one narrow Spark job (one stage, no Exchange, no Python worker)
collects the batch's sorted per-record JSON through a JVM-side Arrow
collect, and the driver joins each key's records into its array - the
bytes `pack_batches` would produce, without its groupBy shuffle, which
runs as a map-stage job plus a result job under AQE.  (On PySpark 4.1.2 a
warm Python task was measured to pay 140-270 ms before its function
starts, on a 4-vCPU host, mostly `importlib.invalidate_caches()`
re-reading the worker's zip-importer directories.)  The Kafka writer
stays executor-side on `pack_batches`: per-partition producers behind its
groupBy are its scale path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # confluent-kafka / kafka-python are not in this image
    from confluent_kafka import Producer  # type: ignore  # noqa: F401

    HAVE_KAFKA = True
except ImportError:
    HAVE_KAFKA = False

try:  # pyarrow.flight ships with the bundled pyarrow
    from pyarrow import flight

    HAVE_FLIGHT = True
except ImportError:
    HAVE_FLIGHT = False


def _record(records: DataFrame, key: str):
    """One record as the struct of every column but the key."""
    return F.struct(*[F.col(c) for c in records.columns if c != key])


def pack_batches(records: DataFrame, key: str = "notifId") -> DataFrame:
    """One JSON array message per key per micro-batch (receiver.py:443:
    'serialize all records as ONE JSON array').  Deterministic order inside
    the array via array_sort on the leading ts_unix field."""
    rec_cols = [c for c in records.columns if c != key]
    rec = F.struct(*[F.col(c) for c in rec_cols])
    return records.groupBy(key).agg(
        F.to_json(F.array_sort(F.collect_list(rec))).alias("payload"),
        F.count("*").alias("n_records"),
    )


def _default_producer_factory(bootstrap: str):
    """Per-executor confluent producer; a plain function (not a lambda over
    module globals) so cloudpickle ships it by value to workers."""

    def make():
        from confluent_kafka import Producer as _P  # imported ON the worker

        return _P({"bootstrap.servers": bootstrap})

    return make


def kafka_foreach_batch(topic: str, bootstrap: str, producer_factory=None):
    """foreachBatch writer: pack per-key JSON arrays, produce one message per
    key - EXECUTOR-SIDE.  Each partition of the packed frame opens its own
    producer via foreachPartition, so payload bytes flow worker -> broker and
    never transit the driver (the previous spelling collected the whole
    micro-batch to a single driver producer - a bottleneck and OOM risk at
    scale).  Produce contract matches the reference: one JSON array message
    per notifId, keyed by notifId (receiver.py:443-448).

    `producer_factory`: zero-arg callable returning an object with
    .produce(topic, value=, key=) and .flush(timeout) - defaults to a
    per-partition confluent_kafka.Producer; injectable so the packing and
    partition wiring are testable without a broker."""

    def _write(batch: DataFrame, epoch_id: int) -> None:
        factory = producer_factory
        if factory is None:
            if not HAVE_KAFKA:
                raise NotImplementedError(
                    "confluent-kafka not installed in this image; install "
                    "the client, inject a producer_factory, or publish with "
                    "flight_foreach_batch"
                )
            factory = _default_producer_factory(bootstrap)
        t = topic

        def _send(rows) -> None:
            # worker-side: everything referenced is a serialized-by-value
            # local (t, factory) - no package module symbols in the closure
            p = factory()
            n = 0
            for row in rows:
                p.produce(t, value=row["payload"], key=row["notifId"])
                n += 1
            if n:
                # PRODUCER_MAX_TIMEOUT=30 in the reference deployment.
                # flush() returns the number of messages STILL undelivered
                # at timeout - swallowing it would commit the micro-batch
                # past lost messages (at-most-once on broker failure).
                # Raising fails the task -> Spark retries the partition ->
                # the epoch replays: at-least-once, deduplicable
                # downstream by (epoch, key).
                undelivered = p.flush(30)
                if undelivered:
                    raise RuntimeError(
                        f"kafka flush timed out with {undelivered} "
                        f"undelivered message(s) to topic {t!r}"
                    )

        pack_batches(batch).foreachPartition(_send)

    return _write


def flight_foreach_batch(location: str, key: str = "notifId"):
    """Arrow Flight egress writer - the WIRE-level dual of the Kafka
    produce (receiver.py:442-456) that this image can actually exercise:
    no Kafka client or broker installs here (TESTDATA.md), but
    pyarrow.flight ships with the bundled pyarrow, so the packed
    one-JSON-array-per-key batches cross a real gRPC socket to the
    receiver as Arrow record batches
    (tests/test_pipeline_components.py::TestFlightSink).

    DRIVER-SIDE, one narrow Spark job per call: the batch is coalesced to
    one partition, sorted by (key, record) within it and projected to
    (key, to_json(record)), and that comes back through one `toArrow()`,
    a JVM-side Arrow collect - one stage, no Exchange, no Python worker.
    The driver then joins each key's run of records into
    "[" + ",".join(recs) + "]" and counts them.  That is `pack_batches`'
    wire contract byte for byte, with no groupBy shuffle: to_json of an
    array of structs is the comma-joined to_json of each struct inside
    [], and array_sort and sortWithinPartitions order structs by the same
    ascending field-by-field comparison.  The put table has
    `pack_batches`' Arrow schema (key string as the batch declares it,
    payload string, n_records int64 non-null).  coalesce(1) is safe here
    because the driver receives every record anyway, and a NEF
    micro-batch is one spool file (read_notification_stream's
    maxFilesPerTrigger=1), its size bounded by notification volume; the
    reference also produces from its one process.

    One client DoPuts the table under descriptor path (key-root, epoch) -
    one connect / put / close per non-empty micro-batch.  A DoPut failure
    raises from the foreachBatch call, so the epoch is not committed and
    replays on restart: at-least-once, deduplicable downstream by
    (epoch, key), which the descriptor path carries.

    `location`: gRPC URI, e.g. "grpc://host:port".  The server side is
    any Flight endpoint accepting DoPut; FlightSpoolServer below is the
    in-process receiver used by tests and local ops."""

    def _write(batch: DataFrame, epoch_id: int) -> None:
        if not HAVE_FLIGHT:
            raise NotImplementedError(
                "pyarrow.flight unavailable in this pyarrow build; install "
                "pyarrow with Flight, or publish with kafka_foreach_batch"
            )
        rec = _record(batch, key)
        recs = (
            batch.coalesce(1)
            .sortWithinPartitions(key, rec)
            .select(key, F.to_json(rec))
            .toArrow()
        )
        if recs.num_rows == 0:
            return
        packed: dict = {}
        for k, r in zip(recs.column(0).to_pylist(), recs.column(1).to_pylist()):
            packed.setdefault(k, []).append(r)
        schema = pa.schema([
            recs.schema.field(0),
            pa.field("payload", pa.string()),
            pa.field("n_records", pa.int64(), nullable=False),
        ])
        tbl = pa.Table.from_pydict({
            key: list(packed),
            "payload": ["[" + ",".join(v) + "]" for v in packed.values()],
            "n_records": [len(v) for v in packed.values()],
        }, schema=schema)
        client = flight.connect(location)
        try:
            desc = flight.FlightDescriptor.for_path(key, f"epoch={epoch_id}")
            writer, _meta = client.do_put(desc, tbl.schema)
            writer.write_table(tbl)
            writer.close()  # raises on server/socket failure
        finally:
            client.close()

    return _write


class FlightSpoolServer:
    """In-process Arrow Flight receiver for the egress tests and local
    ops: accepts DoPut streams and spools them per descriptor path -
    the broker stand-in on the far side of a REAL gRPC socket (unlike
    the injected fake producer the Kafka test must use)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        import pyarrow.flight as fl

        spool = self

        class _Srv(fl.FlightServerBase):
            def do_put(self, context, descriptor, reader, writer):
                path = "/".join(p.decode() for p in descriptor.path)
                spool.tables.setdefault(path, []).append(reader.read_all())

        self.tables: dict[str, list] = {}
        self._server = _Srv(f"grpc://{host}:{port}")
        self.location = f"grpc://{host}:{self._server.port}"

    def rows(self, path: str) -> list[dict]:
        """All received rows under a descriptor path, as dicts."""
        out: list[dict] = []
        for t in self.tables.get(path, []):
            out.extend(t.to_pylist())
        return out

    def close(self) -> None:
        self._server.shutdown()

    def __enter__(self) -> "FlightSpoolServer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
