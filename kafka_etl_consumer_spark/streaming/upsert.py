"""Streaming MERGE sink: micro-batch upserts into a keyed parquet table
(the bronze→silver pattern — a change stream continuously maintains a
point-in-time snapshot table).

The reference only appends raw events (ETLTask.java:261-283); a user
keeping a *current-state* table from that stream needs exactly this
operator. Built on ``foreachBatch`` + the batch MERGE
(operators/scd.py merge_type1 / scd2_merge), so streaming and batch
upserts share one implementation and one set of semantics.

Crash/replay posture: each micro-batch rewrites the snapshot via
WRITE-NEW-THEN-SWAP — the merged result lands in a fresh
``_v<batch_id>`` (or ``_v<batch_id>_r<attempt>`` on replay, so a
re-run NEVER overwrites the directory the in-flight merge plan is
reading) and a marker file records the active version. The merge
itself is deterministic, so a replayed batch (checkpoint says it ran,
output didn't commit) converges to byte-identical state (exactly-once
OBSERVABLE state, the same posture as ingest's reference-layout
writer). Readers resolve the marker, never a half-written directory.
The marker stores the full committed LINEAGE (active version first,
then the ``retain_versions`` previously committed ones); after each
repoint, every ``_v*`` directory outside the lineage is
garbage-collected so storage stays O(retain_versions × table), not
O(batches × table). Retention is lineage-membership, never
modification time: a half-written ``_v<N>`` left by a crash is the
NEWEST directory but was never committed, so GC removes it first and
keeps the previously-active snapshot a concurrent reader may still be
scanning. The default ``retain_versions=1`` keeps the immediately
superseded version as a grace window for readers that resolved the
marker just before the swap — a reader's in-flight scan of version N
survives the commit of N+1 and only becomes unsafe two commits later
(set 0 only when no concurrent readers exist; raise it for slow
readers).

Scale: the snapshot rewrite is O(table) per batch — the honest cost of a
keyed snapshot on a format without transactional row-level merge. Bound
it by PARTITIONING the snapshot on a stable key prefix and passing
``partition_col``: then only partitions containing changed keys rewrite
(dynamic partition overwrite semantics, same trick operators/rollup.py
uses for incremental aggregates).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_etl_consumer_spark.maintenance import _fs, _jpath
from kafka_etl_consumer_spark.operators.scd import merge_type1


def _marker_path(table_path: str) -> str:
    return os.path.join(table_path, "_CURRENT_VERSION")


def _read_lineage(spark: SparkSession, table_path: str) -> list[str]:
    """The committed-version lineage from the marker: active version first,
    then previously committed versions (newest first). Empty before the
    first commit. Directories NOT in this list are either uncommitted
    partial writes or GC backlog — never something a marker-following
    reader can be scanning."""
    marker = _marker_path(table_path)
    fs, jvm = _fs(spark, marker)
    path = _jpath(jvm, marker)
    if not fs.exists(path):
        return []
    stream = fs.open(path)
    out: list[str] = []
    try:
        while True:
            try:
                out.append(stream.readUTF())
            except Exception:  # java.io.EOFException via py4j: end of list
                break
    finally:
        stream.close()
    return out


def current_snapshot(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The active snapshot per the version marker, or None before the
    first batch commits."""
    lineage = _read_lineage(spark, table_path)
    if not lineage:
        return None
    return spark.read.parquet(os.path.join(table_path, lineage[0]))


def snapshot_versions(spark: SparkSession, table_path: str) -> list[str]:
    """The committed version lineage, newest first — every snapshot a
    reader may still address (length = 1 + retain_versions)."""
    return _read_lineage(spark, table_path)


def snapshot_at(spark: SparkSession, table_path: str, version: str) -> DataFrame:
    """Time travel within the retention window: read a PRIOR committed
    snapshot by its lineage name (``snapshot_versions()[1]`` is "the
    table as of one commit ago"). Raising on names outside the lineage
    keeps readers off uncommitted partials and GC'd directories — the
    same guarantee the marker gives ``current_snapshot``. Bound the
    window with ``retain_versions`` (storage is O(window × table))."""
    lineage = _read_lineage(spark, table_path)
    if version not in lineage:
        raise ValueError(
            f"version {version!r} not in the committed lineage {lineage!r} "
            "(GC'd, uncommitted, or never existed)"
        )
    return spark.read.parquet(os.path.join(table_path, version))


def _write_marker(
    spark: SparkSession, table_path: str, versions: str | Sequence[str]
) -> None:
    """Repoint the marker. ``versions`` is the full committed lineage
    (active first); a bare string means a single-entry lineage."""
    if isinstance(versions, str):
        versions = [versions]
    marker = _marker_path(table_path)
    fs, jvm = _fs(spark, marker)
    out = fs.create(_jpath(jvm, marker), True)  # overwrite — atomic enough: tiny + idempotent
    try:
        for v in versions:
            out.writeUTF(v)
    finally:
        out.close()


def _fresh_version_name(spark: SparkSession, table_path: str, batch_id: int) -> str:
    """``_v<batch_id>``, or ``_v<batch_id>_r<n>`` if a prior attempt already
    created that directory (replay must not overwrite a directory the
    concurrent merge plan may be reading)."""
    fs, jvm = _fs(spark, table_path)
    attempt = 0
    while True:
        name = f"_v{batch_id}" if attempt == 0 else f"_v{batch_id}_r{attempt}"
        if not fs.exists(_jpath(jvm, os.path.join(table_path, name))):
            return name
        attempt += 1


def _gc_old_versions(
    spark: SparkSession, table_path: str, lineage: Sequence[str]
) -> None:
    """Delete every ``_v*`` directory NOT in the committed lineage.

    Retention is decided by lineage membership, never by modification
    time: after a crash mid-write of ``_v<N>`` (marker still on the
    previous version), the replay commits ``_v<N>_r1`` — an mtime
    ranking would retain the half-written ``_v<N>`` (newest mtime) and
    delete the previously-active snapshot concurrent readers may still
    be scanning. Lineage membership deletes the uncommitted partial
    first and keeps exactly the versions a marker-following reader can
    have resolved."""
    fs, jvm = _fs(spark, table_path)
    root = _jpath(jvm, table_path)
    if not fs.exists(root):
        return
    keep = set(lineage)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("_v") and name not in keep:
            fs.delete(st.getPath(), True)


def stream_merge_upsert(
    changes: DataFrame,
    table_path: str,
    key_cols: Sequence[str],
    checkpoint: str,
    delete_col: str | None = None,
    order_col: str | None = None,
    trigger: dict | None = None,
    retain_versions: int = 1,
) -> StreamingQuery:
    """Continuously MERGE a change stream into the snapshot at
    ``table_path``. Within one micro-batch, multiple changes to a key
    collapse to the LAST one by ``order_col`` (required when batches can
    carry >1 change per key — without an order there is no 'last').

    Returns the started StreamingQuery.
    """
    keys = list(key_cols)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        data_cols = [c for c in batch_df.columns if c != delete_col]
        cur = current_snapshot(spark, table_path)
        if cur is None:
            merged = batch_df
            if delete_col is not None:
                merged = merged.where(~F.coalesce(F.col(delete_col), F.lit(False)))
            merged = merged.select(*data_cols)
        else:
            # merge_type1 filters deletes and projects to cur's columns
            merged = merge_type1(cur, batch_df, keys, delete_col)
        prior = _read_lineage(spark, table_path)
        version = _fresh_version_name(spark, table_path, batch_id)
        merged.write.mode("overwrite").parquet(os.path.join(table_path, version))
        # new lineage: this commit + the retain_versions most recent
        # previously COMMITTED versions (read from the marker BEFORE
        # repointing) — the reader grace window survives crash/replay
        lineage = [version] + [v for v in prior if v != version][:retain_versions]
        _write_marker(spark, table_path, lineage)
        _gc_old_versions(spark, table_path, lineage)

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
