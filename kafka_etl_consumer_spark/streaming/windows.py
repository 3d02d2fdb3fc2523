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


def _keyed_fold(
    df: DataFrame,
    key_col: str,
    out_schema: str,
    state_schema: str,
    fold,
    order_col: str | None = None,
) -> DataFrame:
    """The one ``applyInPandasWithState`` driver behind every per-key
    stateful operator here: the Structured Streaming model of arbitrary
    state as one update function over a per-key state value.

    ``df`` holds the key column and the columns ``fold`` reads. Each
    micro-batch, for every key with rows in it, the driver concatenates
    all Arrow chunks of that key's rows (a key spans several chunks once
    it has more rows than ``arrow.maxRecordsPerBatch``), sorts them once
    by ``order_col`` with a stable sort when it is given, and calls
    ``fold(prior, rows)``. ``prior`` is the stored state tuple, or
    ``None`` for a new key; ``fold`` returns ``(state, outputs)``, the
    driver stores ``state`` and emits one row ``(key, *outputs)`` under
    ``out_schema``. Both schemas are DDL strings.

    Ordering contract: rows are folded in ``order_col`` order within one
    micro-batch, whatever the chunking, and in arrival order across
    micro-batches. Late data is the stream's problem: put a
    watermark-deduped, time-bucketed aggregation in front if
    observations can arrive out of order.

    NoTimeout keeps a key's state forever; the state is whatever
    ``state_schema`` holds, O(#keys), and the only shuffle is on
    ``key_col``."""
    import pandas as pd  # local import: streaming module stays light
    from pyspark.sql.streaming.state import GroupStateTimeout

    # emit by name: the serializer concats these frames with its own
    # schema-named padding rows, which misaligns integer-labelled columns
    names = T.StructType.fromDDL(out_schema).fieldNames()

    def update(key, pdfs, state):
        rows = pd.concat(pdfs, ignore_index=True)
        if order_col is not None:
            rows = rows.sort_values(order_col, kind="mergesort")
        new_state, outputs = fold(state.getOption, rows)
        state.update(new_state)
        yield pd.DataFrame([(key[0], *outputs)], columns=names)

    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def running_totals(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """CUSTOM stateful operator on :func:`_keyed_fold`: per-key lifetime
    (n_events, total_value) maintained in the state store and re-emitted
    every micro-batch the key appears in — the arbitrary-state surface
    for operators that windowed aggs can't express (counters, online
    models, custom sessionization).

    State is one (long, double) pair per key, kept forever (a lifetime
    counter); rows are summed in arrival order, so no ``order_col``."""
    out_schema = "key long, n_events long, total_value double"
    state_schema = "n long, total double"

    def fold(prior, rows):
        n, total = prior or (0, 0.0)
        n += len(rows)
        total += float(rows[value_col].sum())
        return (n, total), (n, total)

    return _keyed_fold(
        df.select(F.col(key_col), F.col(value_col)),
        key_col,
        out_schema,
        state_schema,
        fold,
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
