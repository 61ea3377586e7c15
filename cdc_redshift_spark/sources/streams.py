"""Streaming source builders: Kafka (prod) and file (test harness).

The reference reads from Amazon MSK with a fixed option set
(glue_pg_redshift_cdc.py:223-230, readme.md:24-31).  We reproduce that
option surface exactly, and add a file source producing the same
``(value, offset, partition, timestamp)`` shape so the micro-batch
pipeline is testable without a broker (SURVEY §5.5).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass
class KafkaSourceConfig:
    """Kafka/MSK options, names per the reference readme.md:24-31.

    ``connection_name`` (a Glue-ism) is intentionally absent — it only
    selects Glue network config, not Kafka behavior.
    """

    bootstrap_servers: str
    topic: str
    starting_offsets: str = "latest"           # readme.md:28 startingOffsets
    max_offsets_per_trigger: int | None = 200_000  # readme.md:27
    poll_timeout_ms: int | None = 240_000      # readme.md:30 kafkaConsumer.pollTimeoutMs
    commit_group_id: str | None = None         # readme.md:29 kafka.consumer.commit.groupid
    extra: dict = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topic,
            "startingOffsets": self.starting_offsets,
        }
        if self.max_offsets_per_trigger is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        if self.poll_timeout_ms is not None:
            opts["kafkaConsumer.pollTimeoutMs"] = str(self.poll_timeout_ms)
        if self.commit_group_id is not None:
            opts["kafka.consumer.commit.groupid"] = self.commit_group_id
        opts.update({k: str(v) for k, v in self.extra.items()})
        return opts


def kafka_stream(spark: SparkSession, cfg: KafkaSourceConfig) -> DataFrame:
    """Kafka scan (S1): key/value/topic/partition/offset/timestamp rows.

    Same declaration as glue_pg_redshift_cdc.py:223-230; downstream
    normalizers consume ``value`` (bytes) + ``offset`` (LWW tiebreaker).
    """
    reader = spark.readStream.format("kafka")
    for k, v in cfg.options().items():
        reader = reader.option(k, v)
    return reader.load()


#: Shape a file-source stream shares with the Kafka scan's used columns.
RAW_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
    fmt: str = "json",
) -> DataFrame:
    """Test-harness source: files of RAW_STREAM_SCHEMA rows.

    ``maxFilesPerTrigger=1`` makes each dropped file one micro-batch, so
    tests drive deterministic batch boundaries (SURVEY §5.5).

    ``fmt``: the container format of the phase files — ``"json"``
    (JSON-lines, the historical default most tests write) or
    ``"parquet"``.  The rows are identical either way (the envelope
    ``value`` strings are the data; the container is harness-internal);
    parquet skips the per-row JSON encode on the writer side and the
    schema-directed parse on every stream read (guide §4/§6 — the
    round-16 streaming-harness optimization).
    """
    reader = spark.readStream.schema(RAW_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt != "json":
        raise ValueError(f"unsupported file_stream fmt: {fmt!r}")
    return reader.json(path)
