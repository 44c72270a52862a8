"""Incremental erasure propagation — the streaming half of
operators/erasure.py: delete requests (tombstones) arrive as a
stream, and from the moment one lands (a) every later record for that
subject is dropped at the gate, and (b) the subject's rows already
sitting in downstream state tables are retro-purged by a bounded
rewrite.

State under ``state_dir``:

- ``tombstones/`` — ``(bucket, user_id)``, hash-bucket-partitioned,
  INSERT-ONLY delta-append (a tombstone is never retracted; GDPR has
  no un-forget), deduped at read. O(batch) per micro-batch.

The GATE is stateless given the tombstone set: each record batch
anti-joins the (tiny, broadcastable) tombstone state. The RETRO-PURGE
(:func:`purge_bucketed_state`) rewrites ONLY the buckets a tombstone's
key hashes into — the bounded-rewrite upsert every bucket-partitioned
state table here already supports — so erasing k users from a
billion-row state costs k bucket rewrites, not a table scan-and-write.
Composition is the point: the test erases a user from the LIVE decay
feature store (streaming/decay_stream.py state) and the served scores
drop them exactly.

Replay: tombstone appends may duplicate (deduped at read; an erase is
idempotent by meaning, not just by mechanism); the marker skips fully
applied batches; an uncheckpointed restart over existing state is
refused (``_state.start`` — reset batch ids would silently
skip delete requests, the worst possible row to lose).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 32


def _tombs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "tombstones")


def merge_tombstone_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "user_id",
) -> None:
    """Fold one micro-batch of delete requests into the tombstone
    set."""
    if batch_id <= applied_batch(state_dir):
        return
    t = (
        batch_df.select(F.col(key_col).alias("user_id"))
        .distinct()
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("user_id"), F.lit("tomb")), F.lit(N_BUCKETS)).cast(
                "int"
            ),
        )
    )
    _state.append(t.repartition("bucket"), _tombs_path(state_dir), "bucket")
    commit_marker(state_dir, batch_id)


def read_tombstones(spark: SparkSession, state_dir: str) -> DataFrame:
    """The deduplicated tombstone set (user_id)."""
    t = _state.read(spark, _tombs_path(state_dir), "bucket")
    if t is None:
        raise ValueError(f"no erasure state at {state_dir}")
    return t.select("user_id").distinct()


def gate_batch(
    records: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
) -> DataFrame:
    """Drop every record whose subject is tombstoned — one broadcast
    anti-join against the (tiny) tombstone set; run it inside any
    foreachBatch sink before the records reach storage. No tombstone
    state yet (the gate wired before the first delete request lands)
    is a NORMAL state, not an error: the batch passes through
    unchanged rather than crashing the sink."""
    t = _state.read(records.sparkSession, _tombs_path(state_dir), "bucket")
    if t is None:
        return records
    tomb = t.select("user_id").distinct()
    return records.join(
        F.broadcast(tomb.withColumnRenamed("user_id", key_col)),
        key_col,
        "left_anti",
    )


def purge_bucketed_state(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    bucket_expr,
    state_dir: str,
    key_col: str = "user_id",
) -> None:
    """Retro-purge tombstoned subjects from a bucket-partitioned state
    table: rewrite ONLY the buckets a tombstone hashes into
    (``bucket_expr``: the TABLE's own user→bucket mapping, e.g.
    decay_stream's) — k tombstones cost ≤ k bucket rewrites, never a
    table scan-and-write."""
    tomb = read_tombstones(spark, state_dir)
    cur = _state.read(spark, table_path, part_col)
    if cur is None:
        return
    touched = [
        int(r.b)
        for r in tomb.select(bucket_expr(F.col("user_id")).alias("b"))
        .distinct()
        .collect()
    ]
    if not touched:
        return
    kept = (
        cur.filter(F.col(part_col).isin(touched))
        .join(F.broadcast(tomb.withColumnRenamed("user_id", key_col)), key_col, "left_anti")
    )
    _state.fold(kept.repartition(part_col), table_path, part_col, touched)


def incremental_tombstones(
    requests: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
    checkpoint: str | None = None,
):
    """Start the tombstone-fold query; returns the StreamingQuery. The
    fold is insert-only (convergent) but not reprocessable under reset
    batch ids, so a restart over existing state requires a
    checkpoint."""
    return _state.start(
        requests,
        lambda df, bid: merge_tombstone_batch(df, bid, state_dir, key_col),
        applied_batch(state_dir),
        checkpoint,
    )
