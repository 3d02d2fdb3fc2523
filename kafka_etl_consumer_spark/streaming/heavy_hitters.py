"""Streaming heavy hitters: a stateful Misra-Gries frequency summary.

The batch complement is the sketch family (``sketch_cms_tokens`` counts
with a count-min grid; ``win_rank_topk``/TakeOrdered give exact top-k);
the STREAMING question — "which items are trending RIGHT NOW, with
bounded state, over an unbounded stream" — needs a mergeable summary
that lives in the state store. Misra-Gries (1982) is the classic answer:
k counters per key, total error bounded by the theorem

    true(x) - n/(k+1)  <=  est(x)  <=  true(x)

and EVERY item with true frequency > n/(k+1) is guaranteed present —
the containment property tests/test_stream_heavy_hitters.py asserts
against exact batch counts (an invariant, not a tolerance).

Scale: state is exactly k (item, count) pairs + one counter per key —
O(#keys · k) regardless of stream volume; the only shuffle keys on the
monitored series. Reference has no analytics surface (pass-through ETL,
ETLTask.java:261-283 of mykidong/kafka-etl-consumer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_etl_consumer_spark.streaming.windows import _keyed_fold

__all__ = ["mg_reduce", "misra_gries_monitor"]


def mg_reduce(items, k: int = 8, n: int = 0, summary: dict | None = None):
    """Fold an ordered item stream into a Misra-Gries summary.

    The ONE shared update used by both the streaming monitor below and
    the batch twin (plans/queries_pipeline44.heavy_hitters_mg), so the
    two surfaces cannot drift: increment a tracked item, adopt into a
    free slot while fewer than ``k`` counters live, else decrement ALL
    counters and drop zeros (the arriving item is spent too — k+1
    stream elements per decrement, hence the n/(k+1) error bound).
    Returns ``(n, summary)`` — pass a prior ``(n, summary)`` back in to
    resume (the streaming state-store path). ``summary`` preserves
    insertion order (Python dict), matching the oracle's list state."""
    summary = {} if summary is None else summary
    for x in items:
        x = str(x)
        n += 1
        if x in summary:
            summary[x] += 1
        elif len(summary) < k:
            summary[x] = 1
        else:
            for it in list(summary):
                summary[it] -= 1
                if summary[it] == 0:
                    del summary[it]
    return n, summary


def misra_gries_monitor(
    df: DataFrame,
    key_col: str = "series",
    ts_col: str = "ts",
    item_col: str = "item",
    k: int = 8,
) -> DataFrame:
    """Per-key streaming Misra-Gries summary (k counters).

    Emits one row per key per micro-batch it appears in:
    ``(key, n_processed, items, counts, err_bound)`` where ``items`` /
    ``counts`` are the surviving counters sorted by (count DESC, item
    ASC) — deterministic given the same ordered stream — and
    ``err_bound = floor(n_processed / (k + 1))`` is the worst-case
    undercount of any estimate (the MG guarantee). Items fold in
    ``ts_col`` order under the ordering contract of
    :func:`~kafka_etl_consumer_spark.streaming.windows._keyed_fold`.
    The update is :func:`mg_reduce`, the one the batch twin runs."""
    out_schema = (
        "key string, n_processed long, items array<string>,"
        " counts array<long>, err_bound long"
    )
    state_schema = "n long, items array<string>, counts array<long>"

    def fold(prior, rows):
        n, items, counts = prior or (0, [], [])
        n, summary = mg_reduce(
            rows[item_col], k=k, n=n, summary=dict(zip(items, counts))
        )
        ordered = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))
        items, counts = [it for it, _ in ordered], [c for _, c in ordered]
        return (n, items, counts), (n, items, counts, n // (k + 1))

    return _keyed_fold(
        df.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(ts_col),
            F.col(item_col).cast("string").alias(item_col),
        ),
        key_col,
        out_schema,
        state_schema,
        fold,
        order_col=ts_col,
    )
