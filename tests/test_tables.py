"""The per-session Parquet schema cache in ``sources.tables.load_table``:
a repeated load starts no Spark job, a rewrite at the same path is seen on
the next load, and each session keeps its own cache."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from kafka_etl_consumer_spark.sources.tables import load_table

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted in a job group
    of its own once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _write_orders(path, **extra):
    cols = {"o_orderkey": pa.array([1, 2, 3], pa.int64()),
            "o_comment": pa.array(["a", "b", "c"])}
    cols.update({k: pa.array(v) for k, v in extra.items()})
    pq.write_table(pa.table(cols), path)


def test_second_load_of_an_unchanged_table_starts_no_job(spark, tmp_path):
    _write_orders(str(tmp_path / "orders.parquet"))
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    again, again_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first_jobs >= 1  # the first load infers the schema
    assert again_jobs == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]


def test_single_file_rewrite_shows_the_new_column(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    _write_orders(path)
    load_table(spark, str(tmp_path), "orders")
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey", "o_comment"]
    _write_orders(path, o_flag=[True, False, True])
    got = load_table(spark, str(tmp_path), "orders")
    assert got.columns == ["o_orderkey", "o_comment", "o_flag"]
    assert _rows(got) == [(1, "a", True), (2, "b", False), (3, "c", True)]


def test_directory_overwrite_shows_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    spark.range(4).withColumnRenamed("id", "p_partkey").write.parquet(path)
    load_table(spark, str(tmp_path), "part")
    assert load_table(spark, str(tmp_path), "part").columns == ["p_partkey"]
    (spark.range(4).withColumnRenamed("id", "p_partkey")
     .selectExpr("p_partkey", "cast(p_partkey * 2 as string) AS p_name")
     .write.mode("overwrite").parquet(path))
    got = load_table(spark, str(tmp_path), "part")
    assert dict(got.dtypes) == {"p_partkey": "bigint", "p_name": "string"}
    assert _rows(got) == [(i, str(2 * i)) for i in range(4)]


def test_nanosecond_ts_lands_as_timestamp_on_a_cached_load(spark, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS) is read as its raw long
    and floored to microseconds, on the inferring load and the cached one."""
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(ns, pa.timestamp("ns", tz="UTC"))}),
        str(tmp_path / "events.parquet"))
    first = load_table(spark, str(tmp_path), "events")
    cached, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    for df in (first, cached):
        assert dict(df.dtypes)["ts"] == "timestamp"
        micros = df.selectExpr("unix_micros(ts)").collect()
        assert sorted(r[0] for r in micros) == [n // 1000 for n in ns]


def test_new_session_keeps_its_own_schema_cache(spark, tmp_path):
    _write_orders(str(tmp_path / "orders.parquet"))
    load_table(spark, str(tmp_path), "orders")
    other = spark.newSession()
    first, first_jobs = _jobs(other, lambda: load_table(other, str(tmp_path), "orders"))
    again, again_jobs = _jobs(other, lambda: load_table(other, str(tmp_path), "orders"))
    assert first_jobs >= 1  # nothing shared from the first session
    assert again_jobs == 0
    assert first.schema == again.schema == load_table(spark, str(tmp_path), "orders").schema
    _write_orders(str(tmp_path / "orders.parquet"), o_flag=[True, True, False])
    for s in (other, spark):
        assert load_table(s, str(tmp_path), "orders").columns[-1] == "o_flag"


def test_missing_table_raises_path_not_found(spark, tmp_path):
    """A missing table raises Spark's own error, not the stamp's Java
    FileNotFoundException, and nothing is cached for it."""
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "orders")
    _write_orders(str(tmp_path / "orders.parquet"))
    assert _rows(load_table(spark, str(tmp_path), "orders"))[0] == (1, "a")


@pytest.mark.parametrize("name", [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "dedup_exact",
    "sim_cosine_topk",
])
def test_query_mix_rebuild_starts_no_job(spark, sf_dir, name):
    """Building a benchmark query again on the same session starts no
    Spark job: every table it loads reuses its cached schema."""
    from kafka_etl_consumer_spark.plans import QUERIES

    QUERIES[name](spark, sf_dir)
    _, jobs = _jobs(spark, lambda: QUERIES[name](spark, sf_dir))
    assert jobs == 0
