"""``session.ensure_min_parallelism`` reads the session's file-split size
as Spark parses it, so every byte unit Spark accepts works."""

from __future__ import annotations

import pytest

from kafka_etl_consumer_spark.session import ensure_min_parallelism

KEY = "spark.sql.files.maxPartitionBytes"


@pytest.mark.parametrize("size", ["1t", "64m", "134217728"])
def test_ensure_min_parallelism_reads_any_byte_unit(spark, size):
    prev = spark.conf.get(KEY)
    spark.conf.set(KEY, size)
    try:
        # a few hundred bytes can never fill 4 splits: repartition to 4
        out = ensure_min_parallelism(spark.range(100).coalesce(1), 4)
    finally:
        spark.conf.set(KEY, prev)
    assert out.rdd.getNumPartitions() == 4
