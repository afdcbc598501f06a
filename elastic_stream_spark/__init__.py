"""elastic_stream_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of AutoMQ/elastic-stream.

The reference (/root/reference) is a cloud-native streaming log store:
streams of append-only records split into ranges, with a placement-driver
metadata plane (streams/ranges/objects/KV).  This package re-expresses that
surface Spark-first; the objects are not a second catalog here, but a view
of the log's data files (``StreamLog.list_objects``):

- ``catalog``   — stream/range lifecycle (create/describe/update/delete,
                  seal, trim, epoch fencing)  ≙ SURVEY.md §2.2/§2.3/§2.6
- ``log``       — the record log: append with contiguous per-stream offsets,
                  offset-range fetch, its data files ≙ SURVEY.md §2.1
- ``kv``        — etcd-style KV with CAS/Txn        ≙ SURVEY.md §2.6 row 32
- ``operators`` — relational queries, dedup, similarity search, text
                  analysis, multimodal plumbing (north-star operators)
- ``streaming`` — Structured Streaming source/sink, windows, watermarks
- ``functions`` — reusable column expressions (JVM-side, codegen-friendly)

Everything is DataFrame/SQL-first; Catalyst owns optimization.  Python code
only orchestrates plans and implements metadata transactions.
"""

from elastic_stream_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
