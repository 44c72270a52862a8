"""Incremental Markov transition counts — the streaming twin of q145.

Transitions are additive ((from, to) pair counts sum across batches),
but a pair can SPAN a batch boundary: a user's last event of batch N
precedes their first event of batch N + 1 — so the fold keeps one
FRONTIER row per user (their latest event's type, ts, id) and each
batch derives its pairs from (frontier ∪ batch) per user. Contract:
events arrive in event-time order per user ACROSS batches — the same
in-order contract every keyed operator here carries, manufactured
from real out-of-order sources by ``streaming/reorder.py`` (the
composition is tested: reorder buffer → transitions ≡ batch q145).

State:

- ``counts/`` — (from_type, to_type, n): event-type-cardinality²
  rows, so the fold is a whole-table ``_state.replace`` whose meta
  carries the applied batch id ATOMICALLY with the data — a replay
  cannot double-add.
- ``frontier/`` — (bucket, user_id, last_type, last_ts, last_id),
  hash-bucket-partitioned, bounded-rewrite fold on the touched
  buckets only. The frontier fold is IDEMPOTENT (latest event by the
  deterministic (ts, event_id) order — re-folding the same batch
  converges), which is what makes the counts-replaced-but-frontier-
  unfolded crash window safe: the replay skips the counts (meta) and
  re-derives the identical frontier.

Fold order per batch: counts replace (atomic w/ meta) → frontier fold
→ marker. Read: :func:`read_transitions` normalizes rows to q145's
output shape (n + row-conditional prob).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 16


def _counts_path(state_dir: str) -> str:
    return os.path.join(state_dir, "counts")


def _frontier_path(state_dir: str) -> str:
    return os.path.join(state_dir, "frontier")


def _bucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col, F.lit("trans")), F.lit(N_BUCKETS)).cast("int")


def merge_transitions_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> None:
    """Fold one micro-batch of events (in event-time order per user
    across batches — put a reorder buffer upstream otherwise)."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession

    ev = batch_df.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("etype"),
        F.col(id_col).cast("long").alias("eid"),
    ).cache()
    if ev.limit(1).count() == 0:
        ev.unpersist()
        commit_marker(state_dir, batch_id)
        return

    frontier = _state.read(spark, _frontier_path(state_dir), "bucket")
    touched = [
        int(r.b)
        for r in ev.select(_bucket(F.col("user_id")).alias("b")).distinct().collect()
    ]
    if frontier is not None:
        fr_touched = frontier.filter(F.col("bucket").isin(touched)).select(
            "user_id",
            F.col("last_ts").alias("ts"),
            F.col("last_type").alias("etype"),
            F.col("last_id").alias("eid"),
        )
        combined = ev.unionByName(fr_touched)
    else:
        combined = ev
    # (user, ts, eid) dedup: a crash mid-frontier-fold can leave a
    # user's own batch-latest event both in the batch and in state —
    # without the dedup a replay's lag window would see it twice
    # (counts are meta-skipped then, but the frontier recompute still
    # reads `combined`, and exactness should not depend on which
    # consumer looks)
    combined = combined.dropDuplicates(["user_id", "ts", "eid"])

    w = Window.partitionBy("user_id").orderBy("ts", "eid")
    steps = combined.select(
        "user_id",
        F.lag("etype").over(w).alias("from_type"),
        F.lag("eid").over(w).alias("from_eid"),
        F.col("etype").alias("to_type"),
        "eid",
    ).filter(F.col("from_type").isNotNull())
    # frontier→frontier ghost pairs cannot occur (one frontier row per
    # user); frontier→first-batch-event is exactly the boundary pair
    delta = steps.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )

    cpath = _counts_path(state_dir)
    if _state.meta_applied_batch(cpath, "applied") < batch_id:
        cur = _state.read(spark, cpath)
        both = delta if cur is None else cur.unionByName(delta)
        merged = both.groupBy("from_type", "to_type").agg(
            F.sum("n").cast("long").alias("n")
        )
        _state.replace(merged.coalesce(1), cpath, meta={"applied": int(batch_id)})

    # frontier fold: latest (ts, eid) event per touched user — from
    # the batch alone (the old frontier is never newer than the batch
    # under the in-order contract; taking max over batch∪frontier
    # would also be correct and is what `combined` holds, so use it:
    # idempotent under replay either way)
    wlast = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("eid"))
    new_frontier = (
        combined.withColumn("_rk", F.row_number().over(wlast))
        .filter(F.col("_rk") == 1)
        .select(
            _bucket(F.col("user_id")).alias("bucket"),
            "user_id",
            F.col("etype").alias("last_type"),
            F.col("ts").alias("last_ts"),
            F.col("eid").alias("last_id"),
        )
    )
    if frontier is not None:
        keep = frontier.filter(F.col("bucket").isin(touched)).join(
            ev.select("user_id").distinct(), "user_id", "left_anti"
        ).select("bucket", "user_id", "last_type", "last_ts", "last_id")
        new_frontier = new_frontier.unionByName(keep)
    _state.fold(new_frontier, _frontier_path(state_dir), "bucket", touched)
    ev.unpersist()
    commit_marker(state_dir, batch_id)


def read_transitions(spark: SparkSession, state_dir: str) -> DataFrame:
    """q145's output shape: (from_type, to_type, n, prob) with prob
    row-normalized per from_type — identical arithmetic (long/long
    division in double, round 6)."""
    cur = _state.read(spark, _counts_path(state_dir))
    if cur is None:
        raise ValueError(f"no transition state at {state_dir}")
    wf = Window.partitionBy("from_type")
    return cur.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wf), 6).alias("prob"),
    )


def incremental_transitions(
    events: DataFrame,
    state_dir: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    checkpoint: str | None = None,
):
    """Start the transition fold; returns the StreamingQuery. Restart
    over existing state requires a checkpoint (the shared
    reset-batch-id contract)."""
    return _state.start(
        events,
        lambda df, bid: merge_transitions_batch(
            df, bid, state_dir, ts_col, user_col, type_col, id_col
        ),
        applied_batch(state_dir),
        checkpoint,
    )
