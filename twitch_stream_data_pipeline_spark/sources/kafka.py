"""Kafka streaming source (the at-scale ingestion analog of S7).

The reference ingests via SQS-triggered Lambdas polling a REST API
(SURVEY.md §2.1); at 100 TB the same role is a Kafka topic consumed by
Structured Streaming. The source wiring is the standard
``readStream.format("kafka")`` option set (:func:`kafka_options`,
handed to ``readStream.options``); the *parse* step — Kafka's
binary ``value`` envelope into typed columns — is a pure DataFrame
transform, factored out so it is testable on static data without a
broker (no Kafka broker or connector jar ships in this environment;
the option shape is pinned by an arg test like the JDBC sink's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100_000,
) -> dict[str, str]:
    """The option set for a Kafka micro-batch source.

    ``maxOffsetsPerTrigger`` is the Kafka twin of the file source's
    ``maxFilesPerTrigger`` (the reference's 100-page API throttle,
    SURVEY.md §4): it bounds each micro-batch during backfills from
    ``earliest`` so state and shuffles stay sized, instead of one giant
    first batch.
    """
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def parse_kafka_envelope(
    raw: DataFrame, value_schema: T.StructType | str
) -> DataFrame:
    """Kafka record envelope -> typed columns.

    ``value`` (binary) is decoded utf-8 and parsed with ``from_json``
    against the declared schema (never inference — schema drift must
    fail loudly, same policy as ``schemas.py``); the record key,
    partition, offset, and broker timestamp are kept as lineage columns
    the way the reference keeps batch ids on every row.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("r"),
        F.col("key").cast("string").alias("kafka_key"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("r.*", "kafka_key", "kafka_partition", "kafka_offset", "kafka_ts")
