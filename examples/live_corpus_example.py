"""A live training-corpus pipeline, end to end: documents STREAM in;
every micro-batch is cleaned, quality-gated, near-dup-checked against the
ALREADY-LANDED corpus, and only novel, good documents append.

    stream -> unicode clean -> quality gate -> incremental LSH dedup
           -> append to landed corpus

This is the composition the batch operators exist for — the same
functions drive both modes, which is the Structured Streaming premise.

    python examples/live_corpus_example.py [sf_dir]   # default sf0.001
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_etl_consumer_spark.operators.dedup import minhash_lsh_matches_against
from kafka_etl_consumer_spark.operators.text import quality_score, unicode_clean
from kafka_etl_consumer_spark.session import get_spark
from kafka_etl_consumer_spark.sources.tables import load_table

QUALITY_FLOOR = 0.2


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="live-corpus-example")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="live_corpus_")
    src = os.path.join(work, "incoming")
    os.makedirs(src)
    corpus = os.path.join(work, "corpus")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # seed the landed corpus with the first third; stream the rest in two
    # arriving batches (each overlaps the corpus -> real dedup pressure)
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(corpus)
    schema = docs.schema

    def on_batch(batch, batch_id):
        # every step below is its own action over the batch: persist it so
        # the source is read once per batch, not once per action
        batch.persist()
        try:
            land(batch, batch_id)
        finally:
            batch.unpersist()

    def land(batch, batch_id):
        n_in = batch.count()
        if n_in == 0:
            return
        # 1. hygiene: NFC + control strip + whitespace collapse
        cleaned = (
            unicode_clean(batch, "text")
            .select("doc_id", F.col("clean").alias("text"))
        )
        # 2. quality gate (soft scores; hard floor here)
        good = (
            quality_score(cleaned)
            .filter(F.col("quality") >= QUALITY_FLOOR)
            .select("doc_id")
            .join(cleaned, "doc_id")
        )
        # 3. near-dup check against everything landed so far
        landed = batch.sparkSession.read.parquet(corpus)
        dup_ids = (
            minhash_lsh_matches_against(good, landed)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        novel = good.join(dup_ids, "doc_id", "left_anti")
        n_novel = novel.count()
        novel.write.mode("append").parquet(corpus)
        print(
            f"batch {batch_id}: {n_in} in -> {n_novel} landed "
            f"({n_in - n_novel} gated or duplicate)"
        )

    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.queryName("live-corpus").foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    try:
        for mod in (1, 2):  # two arriving batches
            docs.filter(F.col("doc_id") % 3 == mod).coalesce(2).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    final = spark.read.parquet(corpus)
    print(f"landed corpus: {final.count()} documents "
          f"(from {docs.count()} arriving + seeded)")
    # numInputRows counts source rows read by every job over the batch;
    # with the batch persisted it equals the batch's documents
    print("per-batch metrics (query.recentProgress):")
    for p in q.recentProgress:
        if p.numInputRows:
            print(f"  batch {p.batchId}: {p.numInputRows} source rows read, "
                  f"{p.processedRowsPerSecond:.1f} rows/s, "
                  f"{p.batchDuration} ms")
    spark.stop()


if __name__ == "__main__":
    main()
