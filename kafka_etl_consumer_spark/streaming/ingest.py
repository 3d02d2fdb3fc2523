"""The ingest pipeline: the reference's entire runtime surface, Spark-first.

Reference semantics being reproduced (SURVEY.md §2.1):
- S1/S2  multi-topic Kafka consumption with per-topic routing
         (ETLTask.java:236,261-274)        → one streaming source, one
         filtered branch per topic
- S3     per-topic binary-Avro decode (AbstractAvroDeserializeService.java:46-60)
         → the pure-Python codec through ``mapInArrow``.
         Like the reference, each message is decoded once, on its way to
         the writer:
         inside the ``foreachBatch`` writer for ``layout='reference'``
         (after a one-row read of the batch time), in the streaming plan
         for ``layout='hive'``
- K1/K2  Snappy Parquet sink in date-formatted directories
         ``<out>/<topic>/<yyyy-MM-dd/HH/mm>/...`` (ETLTask.java:197,213-219)
- K3     processing-time rolling interval DAY/HOUR/MINUTE × N
         (KafkaETLParquetConsumer.java:33-42, ETLTask.java:121-137)
         → ``trigger(processingTime=...)``: one micro-batch == one roll
- C1/C2  offset tracking + flush-then-commit at-least-once
         (ETLTask.java:332-382) → checkpointLocation per query. Delivery
         is exactly-once for both layouts, crash-replay included:
         ``layout='hive'`` through the file sink's ``_spark_metadata``
         commit log, ``layout='reference'`` through a batch-id-keyed
         land step (see ``_reference_layout_writer``). Both beat the
         reference's at-least-once, with its 1-record-per-partition
         duplicate on every restart (it commits the last *processed*
         offset, ETLTask.java:269,359): documented here, not replicated.
- K5     filename collision loop (ETLTask.java:221-231) → unnecessary:
         Spark task files are UUID-unique.

Scale: parallelism = Kafka partition count for the source (1:1 into Spark
input partitions), sink files per task; at 100 TB/day raise
``minPartitions`` on the source and let AQE size the rest. No shuffle exists
anywhere in this pipeline — decode and write are narrow.
"""

from __future__ import annotations

import enum
from typing import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.storagelevel import StorageLevel

from kafka_etl_consumer_spark.avro_codec import (
    decode_record,
    encode_record,
    parse_schema,
    to_spark_struct,
)
from kafka_etl_consumer_spark.maintenance import _fs, _jpath
from kafka_etl_consumer_spark.schema.registry import SchemaRegistry


# The batch time (epoch millis) the reference-layout writer formats into the
# date directory: Spark fixes ``current_timestamp()`` per batch in the offset
# log, so a replayed batch gets the same value.
_BATCH_TIME_COL = "_batch_time_ms"


class IntervalUnit(enum.Enum):
    """The reference's rolling units (KafkaETLParquetConsumer.java:33-42)."""

    MINUTE = "minute"
    HOUR = "hour"
    DAY = "day"


def rolling_trigger(unit: IntervalUnit, interval: int) -> str:
    """``IntervalUnit × N`` → processingTime trigger string (K3).

    The reference rolls files when wall-clock delta exceeds the interval
    (ETLTask.java:285-296); with Structured Streaming each micro-batch is a
    roll, so the trigger IS the rolling interval."""
    if interval < 1:
        raise ValueError("interval must be >= 1")
    return f"{interval} {unit.value}{'s' if interval > 1 else ''}"


# ---------------------------------------------------------------------------
# Avro decode / encode over DataFrames
# ---------------------------------------------------------------------------


def _fully_nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _fully_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_fully_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _fully_nullable(dt.valueType), True)
    return dt


def _permissive(mode: str, corrupt_col: str | None = None) -> bool:
    """Whether ``mode`` is PERMISSIVE; raises for anything other than
    FAILFAST/PERMISSIVE, or for a ``corrupt_col`` outside PERMISSIVE."""
    m = mode.upper()
    if m not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST or PERMISSIVE, got {mode!r}")
    if corrupt_col is not None and m != "PERMISSIVE":
        raise ValueError("corrupt_col requires mode='PERMISSIVE'")
    return m == "PERMISSIVE"


def decode_avro(
    df: DataFrame,
    avsc: str,
    value_col: str = "value",
    keep_cols: Iterable[str] = (),
    mode: str = "FAILFAST",
    corrupt_col: str | None = None,
    reader_avsc: str | None = None,
) -> DataFrame:
    """Binary-Avro ``value_col`` → decoded top-level record columns.

    Matches the reference's pass-through projection: the record's top-level
    fields become columns, nested records stay struct columns
    (ETLTask.java:271-278 — schema in == schema out).

    ``mode``: FAILFAST raises on a corrupt payload (the reference's
    behavior, AbstractAvroDeserializeService.java:56-59); PERMISSIVE yields
    an all-null record instead. Any other mode raises ``ValueError``.

    ``corrupt_col`` (PERMISSIVE only): additionally carry the RAW bytes of
    payloads that failed to decode (null for good rows) — the dead-letter
    surface the reference lacks entirely (it crashes the pipeline): filter
    ``corrupt_col IS NOT NULL`` to a quarantine table for replay after a
    schema fix, instead of losing the bytes or the pipeline.

    ``reader_avsc``: full Avro schema resolution (the spec's rolling-upgrade
    contract; the reference pins one schema per topic forever,
    AbstractAvroDeserializeService.java:28-34 of the reference — a schema
    change breaks it). Payloads decode with the WRITER schema ``avsc``
    under the reader schema at the CODEC level
    (``avro_codec.decode_record(writer, payload, reader)``, one decoder
    per schema pair): reader-added fields take their
    declared ``default`` (null-union fields default to null), writer-only
    fields are decoded and discarded, the promotion lattice applies
    (int→long/float/double, long→float/double, float→double,
    string⇄bytes), union branches re-match against the reader union
    (a multi-branch reader union lands as its member struct), and enum
    symbols fall back to the reader's enum ``default``. Output
    columns and types come from the reader schema.

    Decodes with the pure-Python codec in ``mapInArrow``, partition-parallel:
    pyarrow builds the output columns from the decoded records.
    """
    permissive = _permissive(mode, corrupt_col)
    keep = list(keep_cols)
    struct_schema = to_spark_struct(reader_avsc if reader_avsc is not None else avsc)
    writer_tree = parse_schema(avsc)
    reader_tree = None if reader_avsc is None else parse_schema(reader_avsc)
    if permissive:
        # a corrupt payload becomes an all-null record → every field
        # (including non-null Avro fields) must admit null in the output
        struct_schema = T.StructType(
            [T.StructField(f.name, _fully_nullable(f.dataType), True) for f in struct_schema.fields]
        )
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + ([T.StructField(corrupt_col, T.BinaryType())] if corrupt_col else [])
        + list(struct_schema.fields)
    )
    record_type = pa.struct(list(to_arrow_schema(struct_schema)))

    def decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            records, bad = [], []
            for payload in batch.column(value_col).to_pylist():
                try:
                    records.append(decode_record(writer_tree, payload, reader_tree))
                    bad.append(None)
                except Exception:
                    if not permissive:
                        raise
                    records.append(None)  # an all-null record
                    bad.append(payload)
            # from a struct array, so a zero-field record keeps its row count
            out = pa.RecordBatch.from_struct_array(pa.array(records, record_type))
            if corrupt_col:
                out = out.add_column(0, corrupt_col, pa.array(bad, pa.binary()))
            for c in reversed(keep):  # kept columns pass through as Spark sent them
                out = out.add_column(0, batch.schema.field(c), batch.column(c))
            yield out

    return df.mapInArrow(decode_batches, out_schema)


def encode_avro(df: DataFrame, avsc: str, value_col: str = "value") -> DataFrame:
    """Inverse of :func:`decode_avro`: all columns → one binary Avro column.

    The reference's producer-side serializer (P1,
    KafkaAvroEventSerializer.java:30-49) — used by tests and by a
    Kafka-sink path (``to_avro`` parity)."""
    schema_tree = parse_schema(avsc)

    def encode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            values = [encode_record(schema_tree, r) for r in batch.to_pylist()]
            yield pa.RecordBatch.from_arrays([pa.array(values, pa.binary())], [value_col])

    return df.mapInArrow(encode_batches, T.StructType([T.StructField(value_col, T.BinaryType())]))


# ---------------------------------------------------------------------------
# Partition-path derivation (K2)
# ---------------------------------------------------------------------------

def partition_columns(
    date_format: str = "yyyy-MM-dd/HH/mm", event_time_col: str | Column | None = None
) -> list[tuple[str, Column]]:
    """Reference CONF_DATE_FORMAT → one partition column per path segment.

    Default (processing time): the reference freezes the date string at
    writer-open time (ETLTask.java:160-167); ``current_timestamp()`` is
    likewise evaluated once per micro-batch. Each '/'-separated segment
    becomes its own partition column (dt0, dt1, ...) so the Hive layout
    reproduces the directory depth and stays partition-prunable.

    ``event_time_col``: partition by the EVENT's own timestamp instead —
    the option the reference lacks (its late events land in whichever
    directory is open at arrival, §2.2 of SURVEY.md). This is what
    downstream time-range queries want: partition pruning then prunes by
    event time, and late data lands in its correct partition (at the cost
    of appending to already-"closed" directories — readers must tolerate
    late files or gate on watermark commit)."""
    segs = date_format.split("/")
    if event_time_col is None:
        ts = F.current_timestamp()
    elif isinstance(event_time_col, str):
        ts = F.col(event_time_col)
    else:  # a Column, e.g. timestamp_millis(col("baseProperties.timestamp"))
        ts = event_time_col
    return [(f"dt{i}", F.date_format(ts, seg)) for i, seg in enumerate(segs)]


# ---------------------------------------------------------------------------
# The ingest pipeline (EP1 equivalent)
# ---------------------------------------------------------------------------


def ingest(
    source_df: DataFrame,
    registry: SchemaRegistry,
    output_path: str,
    topics: list[str],
    checkpoint_path: str,
    trigger: str = rolling_trigger(IntervalUnit.MINUTE, 1),
    date_format: str = "yyyy-MM-dd/HH/mm",
    layout: str = "reference",
    mode: str = "FAILFAST",
    event_time_col: str | Column | None = None,
    reader_registry: SchemaRegistry | None = None,
) -> list[StreamingQuery]:
    """Start one streaming query per topic: filter → Avro-decode →
    date-partitioned Snappy Parquet under ``<output_path>/<topic>/...``.
    Each message is decoded once: for ``"reference"`` the query carries the
    topic's raw ``value`` bytes plus the batch time, and the
    ``foreachBatch`` writer decodes only a non-empty batch; for ``"hive"``
    the decode is part of the streaming plan.

    ``source_df`` must expose Kafka-source-shaped columns ``topic`` (string)
    and ``value`` (binary) — in production from
    ``spark.readStream.format("kafka")`` (sources/kafka.py), in tests from
    any file/rate/memory stream projected to that shape, so the whole
    decode→partition→write path runs without a broker.

    ``layout``:
    - ``"reference"`` — foreachBatch writes
      ``<out>/<topic>/<date_format(batch time)>/part-*.parquet``: byte-for-byte
      the reference's directory contract (README.md:14-26 of the reference),
      each file named ``part-b<batch_id>-*`` so a replayed batch replaces
      its own files (see _reference_layout_writer).
    - ``"hive"`` — ``partitionBy(dt0, dt1, ...)`` key=value directories:
      partition-prunable by Spark/Hive/Trino readers; preferred for new
      deployments. With ``event_time_col`` (a decoded column name, e.g. an
      epoch-millis field via ``timestamp_millis``), partitions derive from
      EVENT time instead of processing time — late rows land in their
      correct partition (partition_columns docstring has the trade-off).

    Both layouts date a batch by ``current_timestamp()``, which the
    checkpoint's offset log fixes per batch. Delivery is exactly-once for
    both, also when a crash between the write and the commit makes Spark
    replay a batch.

    ``reader_registry``: per-topic READER schemas for rolling upgrades —
    payloads decode with the writer schema from ``registry`` under the
    reader schema via full Avro schema resolution (see
    :func:`decode_avro` ``reader_avsc``); the landed parquet carries the
    reader's columns and types, so a consumer fleet upgrades schemas
    without stopping producers (the reference pins one schema forever).

    One query per topic (not one query demuxing to N sinks): each topic has
    its own schema, checkpoint, and backpressure, and Spark schedules the
    queries concurrently — same isolation the reference gets from one
    writer per TopicPartition (ETLTask.java:171-210).
    """
    if layout not in ("reference", "hive"):
        raise ValueError(f"layout must be reference|hive, got {layout!r}")
    if event_time_col is not None and layout != "hive":
        raise ValueError("event_time_col requires layout='hive'")
    _permissive(mode)  # "reference" decodes only inside a batch: check now
    queries: list[StreamingQuery] = []
    for topic in topics:
        avsc = registry.avsc(topic)
        reader = reader_registry.avsc(topic) if reader_registry else None
        branch = source_df.filter(F.col("topic") == topic)
        sink_path = f"{output_path}/{topic}"
        ckpt = f"{checkpoint_path}/{topic}"

        if layout == "hive":
            q = _partitioned_parquet_sink(
                decode_avro(branch, avsc, value_col="value", mode=mode, reader_avsc=reader),
                sink_path, ckpt, trigger, f"ingest-{topic}", date_format, event_time_col,
            )
        else:
            q = (
                branch.select(
                    "value", F.unix_millis(F.current_timestamp()).alias(_BATCH_TIME_COL)
                )
                .writeStream.foreachBatch(
                    _reference_layout_writer(sink_path, date_format, avsc, mode, reader)
                )
                .option("checkpointLocation", ckpt)
                .trigger(processingTime=trigger)
                .queryName(f"ingest-{topic}")
                .start()
            )
        queries.append(q)
    return queries


def _partitioned_parquet_sink(
    out: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str,
    query_name: str,
    date_format: str,
    event_time_col: str | Column | None,
) -> StreamingQuery:
    """Start one topic's Snappy Parquet file-sink query, partitioned by
    the :func:`partition_columns` of ``date_format``/``event_time_col``."""
    part_cols = partition_columns(date_format, event_time_col)
    for name, col in part_cols:
        out = out.withColumn(name, col)
    return (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", "snappy")
        .partitionBy(*[name for name, _ in part_cols])
        .trigger(processingTime=trigger)
        .queryName(query_name)
        .start()
    )


def _reference_layout_writer(
    sink_path: str,
    date_format: str,
    avsc: str,
    mode: str = "FAILFAST",
    reader_avsc: str | None = None,
):
    """foreachBatch sink reproducing ``<out>/<topic>/<SimpleDateFormat(batch time)>/``.

    Takes the topic's RAW ``value`` bytes plus ``_BATCH_TIME_COL``. One
    JVM-only ``head()`` of that column reads the batch time; ``None`` means
    an empty batch, which writes nothing (K4 lazy-open). Only a non-empty
    batch's ``value`` is Avro-decoded, with :func:`decode_avro` under
    ``avsc``/``mode``/``reader_avsc``, once, as part of its write.

    The date string is the batch time formatted on the driver by the
    reference's own formatter, ``java.text.SimpleDateFormat`` (in UTC),
    through the session's JVM — the analogue of the reference freezing it
    at writer-open time (ETLTask.java:164-167).

    Delivery (C1/C2) is exactly-once, crash-replay included. A restart
    replays only the last uncommitted batch, with the same ``batch_id``,
    rows and batch time (the offset log's ``batchTimestampMs``), so the
    same ``<date>``, and every step below can be rerun:

    1. write the decoded rows into a cleared ``_staging/`` directory;
    2. delete any ``<date>/part-b<batch_id>-*`` a failed attempt left,
       rename each staged ``part-*`` to ``<date>/part-b<batch_id>-*``,
       and remove ``_staging/``.

    Spark's readers skip ``_``-prefixed paths, so ``_staging/`` does not
    show in a read of ``<out>/<topic>``. All file operations go through
    the Hadoop FS API, so any scheme (file://, hdfs://, s3a://) works, not
    just the local fs.
    """
    # (FileSystem, Path class, UTC formatter, Date class), resolved on the
    # first non-empty batch: each package segment costs a py4j call. The
    # query runs its batches one after another, so one formatter is safe.
    handles: list = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        first = batch_df.select(_BATCH_TIME_COL).head()
        if first is None:
            return
        if not handles:
            fs, jvm = _fs(batch_df.sparkSession, sink_path)
            fmt = jvm.java.text.SimpleDateFormat(date_format)
            fmt.setTimeZone(jvm.java.util.TimeZone.getTimeZone("UTC"))
            handles.extend((fs, jvm.org.apache.hadoop.fs.Path, fmt, jvm.java.util.Date))
        fs, hadoop_path, fmt, java_date = handles
        date_str = fmt.format(java_date(first[0]))

        def path(rel: str):
            return hadoop_path(f"{sink_path}/{rel}")

        fs.delete(path("_staging"), True)
        decode_avro(batch_df.select("value"), avsc, mode=mode, reader_avsc=reader_avsc).write.mode(
            "append"
        ).option("compression", "snappy").parquet(f"{sink_path}/_staging")

        for st in fs.globStatus(path(f"{date_str}/part-b{batch_id}-*")) or []:
            fs.delete(st.getPath(), False)
        fs.mkdirs(path(date_str))
        for st in fs.globStatus(path("_staging/part-*")):
            name = f"{date_str}/part-b{batch_id}-{st.getPath().getName()[len('part-'):]}"
            if not fs.rename(st.getPath(), path(name)):
                raise OSError(f"could not move {st.getPath()} to {sink_path}/{name}")
        fs.delete(path("_staging"), True)

    return write_batch


def strip_registry_framing(
    df: DataFrame,
    value_col: str = "value",
    schema_id_col: str = "schema_id",
    mode: str = "FAILFAST",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Unwrap the Confluent-style wire framing — 1 magic byte (0x00) +
    4-byte big-endian schema id + Avro body — into (payload bytes,
    schema id).

    The reference consumes RAW Avro bytes with no envelope at all
    (`binaryDecoder` over the whole payload,
    AbstractAvroDeserializeService.java:50; README.md:51-52), which is
    why :func:`decode_avro` takes the value column as-is. Real clusters
    frequently carry the framed format instead; this pre-step makes the
    same downstream pipeline consume either — call it before
    :func:`decode_avro` and route on ``schema_id_col`` if topics carry
    multiple schema versions.

    Entirely JVM-side expressions (binary substring + big-endian
    reassembly from unhex'd hex) — no Python in the hot path.

    ``mode``: FAILFAST raises (in-plan ``raise_error``) on a payload
    whose magic byte isn't 0x00 or that is shorter than the 5-byte
    header (a zero-length Avro body after the header IS legal — an
    all-defaulted record encodes to 0 bytes); PERMISSIVE nulls payload
    and id for such rows. Pass ``corrupt_col`` (PERMISSIVE only) to
    additionally carry the RAW bytes of bad rows — without it the bad
    payloads are unrecoverable, which is NOT a dead-letter posture;
    with it, filter ``corrupt_col IS NOT NULL`` to a quarantine table
    for replay, exactly like decode_avro's ``corrupt_col``.
    """
    permissive = _permissive(mode, corrupt_col)
    v = F.col(value_col)
    ok = (F.length(v) >= 5) & (F.substring(v, 1, 1) == F.lit(bytes([0])))
    sid = F.conv(F.hex(F.substring(v, 2, 4)), 16, 10).cast("int")
    body = F.expr(f"substring({value_col}, 6, length({value_col}) - 5)")
    if not permissive:
        err = F.raise_error(
            F.concat(
                F.lit("strip_registry_framing: bad magic byte or truncated "
                      "header (len="),
                F.length(v).cast("string"),
                F.lit(")"),
            )
        )
        sid_out = F.when(ok, sid).otherwise(err.cast("int"))
        # the guard must live in BOTH output columns: a consumer that
        # selects only the payload prunes schema_id away, and with it
        # any raise_error embedded only there — FAILFAST would silently
        # degrade to PERMISSIVE-null for bad rows
        body_out = F.when(ok, body).otherwise(err.cast("binary"))
    else:
        sid_out = F.when(ok, sid)
        body_out = F.when(ok, body)
    others = [c for c in df.columns if c != value_col]
    out_cols = [*others, sid_out.alias(schema_id_col), body_out.alias(value_col)]
    if corrupt_col is not None:
        out_cols.append(F.when(~ok, v).alias(corrupt_col))
    return df.select(*out_cols)


def add_registry_framing(
    df: DataFrame, schema_id: int, value_col: str = "value"
) -> DataFrame:
    """Inverse of :func:`strip_registry_framing` (producer side): prefix
    each Avro payload with the 0x00 magic byte + big-endian schema id."""
    header = bytes([0]) + int(schema_id).to_bytes(4, "big")
    return df.withColumn(
        value_col, F.concat(F.lit(header), F.col(value_col))
    )


# ---------------------------------------------------------------------------
# Bronze landing + partition-scoped backfill (the replay substrate)
# ---------------------------------------------------------------------------


def land_raw(
    source_df: DataFrame,
    output_path: str,
    topics: list[str],
    checkpoint_path: str,
    trigger: str = rolling_trigger(IntervalUnit.MINUTE, 1),
    date_format: str = "yyyy-MM-dd/HH/mm",
) -> list[StreamingQuery]:
    """Bronze landing: the UNDECODED ``(topic, value)`` bytes as
    hive-partitioned Snappy Parquet under ``<output_path>/<topic>/dt0=…`` —
    the replay substrate :func:`ingest` alone lacks. The reference decodes
    inline and discards the original bytes
    (AbstractAvroDeserializeService.java:46-60 of the reference), so a
    decoder bug there destroys data; with a bronze table,
    :func:`backfill_decoded` re-derives any silver partition after a fix.

    Same per-topic query isolation and partition-column contract as
    ``ingest(layout="hive")`` (processing-time ``dt0..dtN`` from
    ``date_format``), so bronze and silver prune on identical keys. The
    payload is stored as-is — one binary column plus the topic — and the
    write is a narrow pass-through: no decode, no shuffle, scan-speed.

    Boundary race when run CONCURRENTLY with :func:`ingest`: each stream
    evaluates ``current_timestamp()`` in its own micro-batch, so a record
    arriving near a day/hour boundary can land in bronze ``dt0=D`` but
    silver ``dt0=D+1`` (or vice versa). A later ``dt0``-scoped
    :func:`backfill_decoded` of ``D`` would then drop such a boundary row
    from silver ``D`` without restoring it to ``D+1`` — when repairing
    partition ``P``, backfill the ADJACENT partitions too (``P±1``), or
    run both landings from the same source query so one timestamp
    evaluation feeds both (single source of partition truth).
    """
    return [
        _partitioned_parquet_sink(
            source_df.filter(F.col("topic") == topic),
            f"{output_path}/{topic}", f"{checkpoint_path}/{topic}", trigger,
            f"land-raw-{topic}", date_format, None,
        )
        for topic in topics
    ]


def backfill_decoded(
    spark: SparkSession,
    raw_path: str,
    registry: SchemaRegistry,
    output_path: str,
    topic: str,
    partitions: Iterable[str] | None = None,
    mode: str = "FAILFAST",
    reader_registry: SchemaRegistry | None = None,
    event_time_col: str | Column | None = None,
    date_format: str = "yyyy-MM-dd/HH/mm",
    bronze_partitions: Iterable[str] | None = None,
    vacuum_force: bool = False,
) -> int:
    """Re-decode landed bronze bytes into the hive-layout silver table,
    atomically replacing ONLY the named ``dt0`` partitions (dynamic
    partition overwrite) — the recovery path after a decoder bug or a
    schema fix ships. Returns the number of rows written.

    Idempotent: re-running with the same inputs converges to the same
    silver state (the decode is deterministic and INSERT-OVERWRITE
    replaces whole partition directories, never appends). With
    ``partitions=None`` the entire topic re-derives.

    Partitioning contract — MUST match how the silver table was written:

    * ``event_time_col=None`` (default): silver was written by
      ``ingest(layout="hive")`` WITHOUT an event-time column, i.e. both
      bronze and silver partition on processing time. Bronze's ``dt*``
      columns carry over unchanged and ``partitions`` names bronze+silver
      ``dt0`` values at once. Caveat: if :func:`land_raw` and
      :func:`ingest` ran as separate streams, a record near a time
      boundary may sit in bronze ``dt0=D`` but silver ``dt0=D±1`` (see
      the :func:`land_raw` boundary-race note) — when repairing partition
      ``P``, include the adjacent partitions in ``partitions`` so such
      rows are re-derived into their bronze-side directory consistently.
    * ``event_time_col=<decoded column>``: silver was written by
      ``ingest(..., event_time_col=...)`` — its ``dt*`` are EVENT-time
      values that do not align with bronze's processing-time ``dt*``.
      The backfill re-derives ``dt*`` from the decoded event-time column
      (same ``date_format``/:func:`partition_columns` as ingest) and
      ``partitions`` then names SILVER (event-time) ``dt0`` values.
      Because late events for day ``D`` arrive in bronze partitions
      ``>= D``, the bronze scan defaults to the FULL topic; pass
      ``bronze_partitions`` (bronze/arrival-time ``dt0`` values) to
      narrow it ONLY when you can bound lateness — a ``bronze_partitions``
      window that misses late arrivals silently drops those rows from the
      rebuilt silver partition, since dynamic overwrite replaces the
      whole directory.

    Passing neither matching argument for an event-time silver table
    (i.e. leaving ``event_time_col=None``) would write processing-time
    directories into an event-time table — splitting it. The modes above
    exist so that cannot happen by omission when the call mirrors the
    original ``ingest`` arguments; reuse the exact ``event_time_col`` /
    ``date_format`` you ingested with.

    Scale shape (100 TB): the bronze scan partition-prunes to the named
    ``dt0`` values (plan-asserted in tests/test_backfill.py); decode is
    the path streaming uses (the pure-Python codec through
    ``mapInArrow``), a narrow map, and runs ONCE
    (the decoded frame is persisted across the count and the write); the
    write touches only the affected partition directories — untouched
    silver partitions are never read or rewritten, so a one-hour backfill
    costs one hour of data regardless of table size. No shuffle anywhere.

    Concurrency: the bronze READ briefly disables
    ``spark.sql.sources.partitionColumnTypeInference`` session-wide (no
    per-read option exists) so ``dt1="05"`` round-trips as a string; a
    concurrent partition-discovering read on the same session during that
    window inherits string-typed partition columns. The overwrite itself
    uses the per-write ``partitionOverwriteMode`` option and mutates no
    session conf.

    Streaming-sink metadata: a silver table written by :func:`ingest`
    carries a FileStreamSink ``_spark_metadata`` log, and a partition
    overwrite makes that log stale (metadata-aware readers would list
    replaced files → FileNotFound). STOP the ingest query before
    backfilling; this function then deletes the stale log after the
    rewrite, leaving a plain hive-partitioned table that batch readers
    list directly. If you later RESTART a checkpointed ingest stream
    into the same directory, FileStreamSink starts a FRESH log that
    names only post-restart files — from that point batch readers must
    set ``spark.sql.streaming.fileStreamSink.ignoreMetadata=true`` (or
    you re-land into a new directory), otherwise they silently see only
    the new files.

    ``reader_registry``: as in :func:`ingest` — decode writer-schema bytes
    under an upgraded reader schema (full Avro schema resolution), which
    is exactly the backfill that follows a rolling schema upgrade.
    """
    if bronze_partitions is not None and event_time_col is None:
        raise ValueError(
            "bronze_partitions only applies with event_time_col: in "
            "processing-time mode bronze and silver share dt* values — "
            "use partitions"
        )
    conf = spark.conf
    # partition values must round-trip as the STRINGS the streaming writer
    # produced: inference would read dt1="05" as int 5 and the rewrite
    # would land dt1=5 — a different directory than ingest's dt1=05,
    # silently splitting the partition
    prev_inf = conf.get("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        src = spark.read.parquet(f"{raw_path}/{topic}")
        src.schema  # force file-index/schema resolution under the conf
    finally:
        conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", prev_inf)
    bronze_parts = [c for c in src.columns if c.startswith("dt")]
    if event_time_col is None:
        if partitions is not None:  # bronze dt0 == silver dt0: prune the scan
            src = src.filter(F.col("dt0").isin(list(partitions)))
        part_names = bronze_parts
        keep = bronze_parts
    else:
        if bronze_partitions is not None:  # caller-bounded lateness window
            src = src.filter(F.col("dt0").isin(list(bronze_partitions)))
        keep = []
    reader = reader_registry.avsc(topic) if reader_registry else None
    decoded = decode_avro(
        src,
        registry.avsc(topic),
        value_col="value",
        keep_cols=keep,
        mode=mode,
        reader_avsc=reader,
    )
    if event_time_col is not None:
        # silver partitions from the EVENT's own timestamp, same derivation
        # ingest(event_time_col=...) used — never bronze's arrival time
        derived = partition_columns(date_format, event_time_col)
        for name, col in derived:
            decoded = decoded.withColumn(name, col)
        part_names = [name for name, _ in derived]
        if partitions is not None:  # silver-space dt0 filter (post-decode)
            decoded = decoded.filter(F.col("dt0").isin(list(partitions)))
    # decoded record fields first, partition columns last (partitionBy
    # requires them present; order fixes the written column layout)
    data_cols = [c for c in decoded.columns if c not in part_names]
    out = decoded.select(*data_cols, *part_names)

    # before overwriting and dropping the sink log: vacuum on-disk parquet
    # the log deliberately hides (uncommitted output of aborted
    # micro-batches at final paths). Once the log is gone those ghosts
    # would surface to plain-listing readers as duplicate rows (ADVICE
    # r5); vacuuming must precede the write so it never sees the new
    # files, which the log doesn't name either. The vacuum's restart
    # guard applies (ADVICE r6): if the silver directory looks like a
    # sink restarted with a fresh checkpoint — whose "orphans" are really
    # pre-restart COMMITTED files — it raises instead of deleting them;
    # re-land that data first or pass vacuum_force=True after verifying.
    from kafka_etl_consumer_spark.maintenance import vacuum_streaming_sink

    silver = f"{output_path}/{topic}"
    _sfs, _sjvm = _fs(spark, silver)
    if _sfs.exists(_jpath(_sjvm, f"{silver}/_spark_metadata")):
        vacuum_streaming_sink(silver, delete=True, force=vacuum_force, spark=spark)

    # persist so the Avro decode — the dominant cost of this path — runs
    # once across the count and the write, not twice
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = out.count()
        (
            out.write.mode("overwrite")
            # per-write option: no session-global partitionOverwriteMode
            # mutation, so concurrent writers keep their own semantics
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "snappy")
            .partitionBy(*part_names)
            .parquet(f"{output_path}/{topic}")
        )
    finally:
        out.unpersist()
    # drop the now-stale FileStreamSink log, if the table was
    # streaming-written: the overwrite replaced files the log names, so
    # metadata-aware readers would FileNotFound (docstring contract)
    from kafka_etl_consumer_spark.maintenance import drop_stream_sink_log

    drop_stream_sink_log(spark, f"{output_path}/{topic}")
    return n
