"""Drop-in facade mirroring the reference's public API surface.

A user of the reference constructs
``KafkaETLParquetConsumer(kafkaConsumerProps, topics, pollTimeout,
parquetProps, avroDeserializeService)`` and calls ``run()`` / ``stop()``
(KafkaETLParquetConsumer.java:44-75 of the reference). This class accepts
the same five inputs with the same parquetProps config keys
(KafkaETLParquetConsumer.java:16-22) and drives the Spark ingest pipeline
(streaming/ingest.py) instead of the hand-rolled poll loop.

Behavioral mapping, key by key:

- ``hadoop.conf.dir``  → ``spark.hadoop.*`` confs / HADOOP_CONF_DIR (the
  session owns Hadoop config; accepted and applied via SparkConf when given)
- ``block.size`` / ``page.size`` → ``parquet.block.size`` /
  ``parquet.page.size`` Hadoop confs (reference: ETLTask.java:146-148)
- ``output``           → sink root; files land ``<output>/<topic>/<date>/``
- ``date.format``      → directory date pattern (default yyyy-MM-dd/HH/mm)
- ``interval.unit`` / ``interval`` → processingTime trigger (one micro-batch
  == one roll; reference: ETLTask.java:121-137,285-296)
- ``checkpoint``       → NEW (no reference equivalent): checkpoint root.
  The reference tracks progress as Kafka offsets committed after flush
  (at-least-once, with its last-offset off-by-one duplicate,
  ETLTask.java:269,359); here progress lives in the checkpoint, and
  delivery is exactly-once, crash-replay included — see
  streaming/ingest.py.

``kafkaConsumerProps``: ``bootstrap.servers`` feeds the source; everything
else passes through with the ``kafka.`` prefix. ``enable.auto.commit`` is
force-ignored exactly as the reference force-disables it
(KafkaETLParquetConsumer.java:49) — Spark never uses Kafka auto-commit.
``pollTimeout`` is accepted for signature parity and unused: the micro-batch
planner owns batching (SURVEY.md §2.1 S1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafka_etl_consumer_spark.schema.registry import SchemaRegistry
from kafka_etl_consumer_spark.sources.kafka import kafka_source
from kafka_etl_consumer_spark.streaming.ingest import IntervalUnit, ingest, rolling_trigger

CONF_HADOOP_CONF_DIR = "hadoop.conf.dir"
CONF_BLOCK_SIZE = "block.size"
CONF_PAGE_SIZE = "page.size"
CONF_OUTPUT = "output"
CONF_DATE_FORMAT = "date.format"
CONF_INTERVAL_UNIT = "interval.unit"
CONF_INTERVAL = "interval"
CONF_CHECKPOINT = "checkpoint"


class KafkaETLParquetConsumer:
    """Same shape as the reference's facade; Spark-powered underneath."""

    def __init__(
        self,
        kafka_consumer_props: dict[str, str],
        topics: list[str],
        poll_timeout: int,
        parquet_props: dict[str, str],
        avro_deserialize_service: SchemaRegistry,
        spark: SparkSession | None = None,
        source_df: DataFrame | None = None,
    ):
        if CONF_OUTPUT not in parquet_props:
            raise ValueError(f"parquetProps requires {CONF_OUTPUT!r}")
        self.kafka_props = dict(kafka_consumer_props)
        self.kafka_props.pop("enable.auto.commit", None)  # forced, like :49
        self.topics = list(topics)
        self.poll_timeout = poll_timeout  # signature parity; micro-batch planner owns batching
        self.parquet_props = dict(parquet_props)
        self.registry = avro_deserialize_service
        self.spark = spark or SparkSession.active()
        self._source_df = source_df  # test seam: any (topic, value) stream
        self.queries: list[StreamingQuery] = []

        unit = IntervalUnit[self.parquet_props.get(CONF_INTERVAL_UNIT, "MINUTE")]
        self.trigger = rolling_trigger(unit, int(self.parquet_props.get(CONF_INTERVAL, "1")))
        self.date_format = self.parquet_props.get(CONF_DATE_FORMAT, "yyyy-MM-dd/HH/mm")
        self.output = self.parquet_props[CONF_OUTPUT]
        self.checkpoint = self.parquet_props.get(
            CONF_CHECKPOINT, f"{self.output}/_checkpoints"
        )

        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if CONF_BLOCK_SIZE in self.parquet_props:
            hconf.set("parquet.block.size", str(self.parquet_props[CONF_BLOCK_SIZE]))
        if CONF_PAGE_SIZE in self.parquet_props:
            hconf.set("parquet.page.size", str(self.parquet_props[CONF_PAGE_SIZE]))

    def _source(self) -> DataFrame:
        if self._source_df is not None:
            return self._source_df
        options = dict(self.kafka_props)
        servers = options.pop("bootstrap.servers")
        return kafka_source(self.spark, servers, self.topics, consumer_options=options)

    def run(self) -> list[StreamingQuery]:
        """Start the pipeline (reference blocks forever in the poll loop,
        KafkaETLParquetConsumer.java:58-69; we return the live queries —
        call ``await_termination()`` for the blocking behavior)."""
        self.queries = ingest(
            self._source(),
            self.registry,
            self.output,
            topics=self.topics,
            checkpoint_path=self.checkpoint,
            trigger=self.trigger,
            date_format=self.date_format,
            layout="reference",
        )
        return self.queries

    def await_termination(self) -> None:
        for q in self.queries:
            q.awaitTermination()

    def stop(self) -> None:
        """Graceful shutdown (reference: wakeup + final sync commit,
        KafkaETLParquetConsumer.java:71-75; checkpoint makes restart
        resume-exact here, no drain dance needed)."""
        for q in self.queries:
            q.stop()
        self.queries = []
