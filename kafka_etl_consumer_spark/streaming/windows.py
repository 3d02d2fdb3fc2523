"""Event-time streaming operators — what the reference could NOT do.

The reference buckets records by wall clock at writer-open time
(ETLTask.java:164-167 in the reference): a late event lands in whatever
directory is open when it ARRIVES, not where its event time belongs
(SURVEY.md §2.2 'streaming' rows). These operators fix that with event-time
windows + watermarks; the same window expressions also run batch-mode in
plans/queries_fn.py where the DuckDB oracles verify them.

All helpers return transformed DataFrames (streaming or batch — Spark's
unified API); the caller owns the sink. Late-data policy: rows older than
``watermark`` behind the max seen event time are dropped from stateful
aggregations (append mode emits a window only once it's final).

Scale: streaming state lives in the state store keyed by (group, window);
watermarks bound its size. Shuffle is on the group+window key — identical
partitioning story to the batch aggs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def with_event_time(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    return df.withWatermark(ts_col, watermark) if watermark else df


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    aggs: list[Column],
    group_cols: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    d = with_event_time(df, ts_col, watermark)
    return (
        d.groupBy(*(group_cols or []), F.window(ts_col, duration).alias("w"))
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    aggs: list[Column],
    group_cols: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    d = with_event_time(df, ts_col, watermark)
    return (
        d.groupBy(*(group_cols or []), F.window(ts_col, duration, slide).alias("w"))
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: list[Column],
    group_cols: list[str] | None = None,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Session windows (dynamic length, closed after ``gap`` of silence).
    Streaming session windows REQUIRE a watermark — state must be evictable."""
    d = with_event_time(df, ts_col, watermark)
    return (
        d.groupBy(*(group_cols or []), F.session_window(ts_col, gap).alias("w"))
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .withColumn("session_end", F.col("w.end"))
        .drop("w")
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful exact dedup on a stream.

    With ``ts_col``: dropDuplicatesWithinWatermark — state for a key is
    dropped once the watermark passes it (bounded state, the 100 TB/day
    posture). Without: unbounded-state dropDuplicates (exact-forever)."""
    if ts_col is None:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def running_totals(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """CUSTOM stateful operator via ``applyInPandasWithState``: per-key
    lifetime (n_events, total_value) maintained in the state store and
    re-emitted every micro-batch the key appears in — the arbitrary-state
    surface for operators that windowed aggs can't express (counters,
    online models, custom sessionization).

    State is one (long, double) pair per key — O(#keys) regardless of
    event volume; shuffle is on ``key_col`` only. NoTimeout keeps keys
    forever (a lifetime counter); bound state for churning key spaces with
    ``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.setTimeoutDuration``
    and drop the key on ``state.hasTimedOut``."""
    import pandas as pd  # local import: streaming module stays light
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        df.select(F.col(key_col), F.col(value_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_first_seen(
    df: DataFrame,
    sink_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
):
    """Continuously maintain a FIRST-SEEN table from a stream: one row
    per key, stamped with the day of its first appearance — the
    streaming half of growth accounting (the batch twin is the
    ``user_growth_accounting`` query; :func:`growth_curve` turns the
    sink into the same curve).

    Stateful exact dedup on the key keeps only each key's first row
    (unbounded dropDuplicates — first-seen is by definition a lifetime
    property, so the state is one row per key forever; that is the SAME
    O(#keys) footprint the batch job's user-grain aggregate carries).
    Append-mode parquet sink + checkpoint give exactly-once rows.
    Assumes the feed delivers a key's first event before its later ones
    (true for time-ordered ingest like the reference's Kafka topics);
    out-of-order feeds should min-merge the sink afterwards.

    Returns the started StreamingQuery.
    """
    first = df.dropDuplicates([key_col]).select(
        F.col(key_col),
        F.date_trunc("day", F.col(ts_col).cast("timestamp")).cast("date").alias("d0"),
    )
    return (
        first.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def growth_curve(spark, sink_path: str) -> DataFrame:
    """(day, new_users, cumulative_users) from a first-seen sink — the
    identical day-grain rollup the batch ``user_growth_accounting`` query
    computes, so streaming state and batch agree row-for-row."""
    from pyspark.sql import Window

    first_seen = spark.read.parquet(sink_path)
    daily = first_seen.groupBy("d0").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("d0", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )
