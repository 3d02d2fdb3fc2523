"""Batch file-format scans and writes beyond Parquet (SURVEY.md §2.2 row 1:
the reference writes Parquet and reads nothing back — ETLTask.java:197 of
the reference; the engine exposes the full format surface).

Schema policy: ALWAYS pass an explicit schema for csv/json at scale.
Inference reads the data twice (one full pass just to guess types) and can
flip types between runs when the data drifts — both unacceptable on a
100 TB input. ``scan_csv``/``scan_json`` therefore take schema as a
required argument; ``infer=True`` exists for exploration only.

Avro container files are read by the pure-Python OCF reader
(avro_ocf.scan_avro_py; there is no spark-avro jar), so ``scan_avro``
takes a required reader schema. Raw Avro *message* decode (the
reference's actual path) is served by streaming/ingest.decode_avro
through the same codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scan_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan; pass ``columns`` to prune eagerly (Catalyst also prunes
    from downstream selects — this is belt-and-braces for ad-hoc use)."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    infer: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan with explicit schema (required unless infer=True —
    inference costs a full extra pass over the input)."""
    if schema is None and not infer:
        raise ValueError("scan_csv requires a schema (or explicit infer=True)")
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def scan_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    infer: bool = False,
    **options: str,
) -> DataFrame:
    """JSON-lines scan with explicit schema (same rationale as scan_csv)."""
    if schema is None and not infer:
        raise ValueError("scan_json requires a schema (or explicit infer=True)")
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_avro(spark: SparkSession, path: str, avsc: str | dict | None = None) -> DataFrame:
    """Avro object-container-file scan with the pure-Python OCF reader
    (avro_ocf.py), which REQUIRES an explicit reader schema ``avsc``."""
    if avsc is None:
        raise RuntimeError(
            "scan_avro needs avsc=: the pure-Python OCF reader "
            "(kafka_etl_consumer_spark.avro_ocf) takes an explicit reader schema"
        )
    from kafka_etl_consumer_spark.avro_ocf import scan_avro_py

    return scan_avro_py(spark, path, avsc)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "error",
    max_records_per_file: int | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_files: int | None = None,
) -> None:
    """Snappy Parquet writer (the reference's sink posture: Snappy,
    dictionary encoding — ETLTask.java:146,197 of the reference; sizes via
    session conf parquet.block.size / parquet.page.size).

    ``max_records_per_file`` mirrors the reference's roll-interval file
    sizing: bound file size without an extra repartition job.

    ``sort_by``: sort rows WITHIN each output file by these columns before
    writing (no shuffle — per-partition sort). Parquet stores per-row-group
    min/max stats per column; sorted data makes those ranges narrow and
    disjoint, so later filtered scans skip whole row groups. The cheap 80%
    of Z-ordering for the single-column-predicate case — sort by your most
    filtered column at write time.

    ``zorder_by``: full multi-dimensional clustering — interleave the bits
    of 2-3 (min/max-normalized) columns into a Morton code and range-
    repartition + sort on it before writing, so EVERY participating
    column's per-file/row-group range stays narrow and a 2-d box filter
    skips most of the table (Delta OPTIMIZE ZORDER BY semantics,
    functions/zorder.py — all JVM bit expressions). ``zorder_files``
    sets the output file count (default: current partitioning).
    Mutually exclusive with ``sort_by``."""
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if zorder_by:
        from kafka_etl_consumer_spark.functions.zorder import with_zorder

        zdf = with_zorder(df, zorder_by)
        parts = [F.col("__zorder")]
        if zorder_files:
            zdf = zdf.repartitionByRange(zorder_files, *parts)
        else:
            zdf = zdf.repartitionByRange(*parts)
        df = zdf.sortWithinPartitions("__zorder").drop("__zorder")
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode).option("compression", "snappy")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "error", **options: str) -> None:
    df.write.mode(mode).options(header="true", **options).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "error", **options: str) -> None:
    df.write.mode(mode).options(**options).json(path)


def scan_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan — same pushdown/pruning posture as :func:`scan_parquet`
    (ORC is the other columnar format Spark reads natively with predicate
    pushdown, column pruning, and vectorized decoding)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(df: DataFrame, path: str, mode: str = "error", **options: str) -> None:
    df.write.mode(mode).options(**options).orc(path)
