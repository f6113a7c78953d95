"""Source / sink adapters.

Kafka is an I/O adapter here, never a semantic dependency (SURVEY.md §7):
every operator is exercisable from parquet / rate / memory sources, and the
Kafka adapters (reference spark_stream.py:41-47, 67-84) are gated behind
availability of the kafka connector jars.
"""

from realtime_voting_data_engineering_spark.sources.tables import (  # noqa: F401
    TABLE_NAMES,
    load_table,
    load_tables,
)
