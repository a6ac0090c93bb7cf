"""PySpark-native analytics engine with the capabilities of
ATNoG/pei-nwdaf-data-ingestion, rebuilt Spark-first.

The reference (see /root/reference, cited per-module as file:line) is a 5G
NWDAF data-ingestion microservice: push source -> context-enrichment join ->
nested-array flatten -> per-type projection/cast/unit-conversion -> validity
filter -> policy masking -> batched sink + keyed fan-out.  This package
re-expresses that dataflow as declarative DataFrame / SQL plans (Catalyst
optimizes them), extends it with the full relational operator surface, the
LLM-data-pipeline operators (dedup / similarity / text analysis / multimodal),
and a Structured Streaming ingest path.

Layout:
    session.py    SparkSession factory (AQE on, UTC, tuned shuffle partitions)
    catalog.py    fixture-table loading helpers
    artifacts.py  cross-query artifact store (indexes, cached tables)
    registry.py   (query, oracle) registration - the driver contract surface
    queries/      one module per operator family, each registering queries
    pipeline/     reference-semantics transforms (normalizers, policy, upsert)
    streaming/    Structured Streaming ingest pipeline
"""

__version__ = "0.1.0"
