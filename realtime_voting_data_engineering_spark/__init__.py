"""PySpark-native analytics engine with the capabilities of
BrightoKusi/RealTime-Voting-Data-Engineering.

The reference is a real-time election-voting pipeline (synthetic voter
generation -> Postgres + Kafka -> Spark Structured Streaming aggregation ->
Kafka -> dashboard). This package re-expresses every capability of that
pipeline as one coherent, Spark-first engine:

- ``session``    — tuned SparkSession bootstrap (AQE on, Arrow on, UTC).
- ``schemas``    — canonical StructTypes for the voting domain
                   (reference: main.py:33-79, spark_stream.py:15-38).
- ``datagen``    — seeded, network-free synthetic generator replacing the
                   reference's randomuser.me HTTP source (main.py:11).
- ``sources``    — batch/streaming source+sink adapters (parquet, kafka,
                   rate/memory test sources) so Kafka is an I/O detail,
                   never a semantic dependency.
- ``operators``  — relational core (projections, joins, aggregates,
                   top-k, pagination, compaction) plus the large-scale
                   data-pipeline extensions: dedup (exact/MinHash-LSH/
                   SimHash), similarity search, text analysis, multimodal
                   column plumbing.
- ``functions``  — scalar function library (reference §2.6 F1-F9).
- ``streaming``  — Structured Streaming layer: watermarked update-mode
                   aggregates, dedup-within-watermark, latest-per-key
                   compaction, foreachBatch upsert sinks.

Everything here is public PySpark API; no custom Catalyst rules are needed
(SURVEY.md §4). Designed for 100 TB scale: declarative plans, broadcast
dims, partial aggregation. Operators collect to the driver only where the
collected set is bounded: the connected-components union-find below its
edge gate, the |Q|-bounded kNN query collects, and the one-row BM25
statistics fold.
"""

__version__ = "0.1.0"
