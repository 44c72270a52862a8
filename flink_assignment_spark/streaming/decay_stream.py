"""Incremental decayed-activity maintenance — the streaming twin of
q139 (the half-life decay score a feature store serves per user).

The decay weight moves with "now", so the score itself is the WRONG
thing to store — the stream folds the time-invariant sufficient
statistic instead: per-(user, day) event counts. Scoring happens at
READ time against any ``asof`` ≥ the last ingested day, reusing the
batch query's exact-dyadic kernel (count / 2^min(age, KCAP) via
integer shifts — bit-identical to q139 under any partitioning, so the
stream == batch parity test compares doubles with ==, not tolerance).

State under ``foreachBatch``:

- ``counts/`` — ``(bucket, user_id, day, c, as_of_batch)``,
  hash-bucket-partitioned on the user. Folded by bounded rewrite of
  the TOUCHED buckets only (``_state.fold``); ``as_of_batch`` on the
  folded rows closes the post-swap-pre-marker crash window exactly the
  way the gapfill frontier does: a replay drops the batch's
  contribution for users whose state already records this batch id,
  so increments can never double-count.

Bounded state is a DESIGN point, not an accident: days older than
``asof − DECAY_KCAP`` all score at the capped weight 2^-KCAP, so
``compact_decay`` folds them into ONE sentinel row per user
(day = NULL ⇒ always-capped at read). Steady state is at most
(KCAP + 1) + 1 rows per user no matter how many years stream through
— the same out-of-band OPTIMIZE contract as the linkage/split/ssjoin
compactions, with the read answer pinned unchanged for every
``asof`` at or beyond the compaction horizon.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.decay_score import DECAY_KCAP, decay_age
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 32


def _counts_path(state_dir: str) -> str:
    return os.path.join(state_dir, "counts")


def _bucket(user_col):
    return F.pmod(F.xxhash64(user_col, F.lit("decay")), F.lit(N_BUCKETS)).cast("int")


def merge_decay_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Fold one micro-batch of events into the per-(user, day) count
    state — see the module docstring for the crash/replay contract."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    path = _counts_path(state_dir)

    b = (
        batch_df.select(
            F.col(user_col).alias("user_id"), F.to_date(ts_col).alias("day")
        )
        .groupBy("user_id", "day")
        .agg(F.count("*").alias("c"))
        .withColumn("bucket", _bucket(F.col("user_id")))
    ).cache()
    if b.count() == 0:
        b.unpersist()
        commit_marker(state_dir, batch_id)
        return

    touched = [int(r.bucket) for r in b.select("bucket").distinct().collect()]
    state = _state.read(spark, path, "bucket")
    if state is not None:
        state = state.filter(F.col("bucket").isin(touched)).cache()
        state.count()
        # crash-window guard (the gapfill frontier contract): a user
        # whose state already records THIS batch id was fully folded
        # before the crash — re-adding would double-count
        done_users = (
            state.filter(F.col("as_of_batch") == F.lit(int(batch_id)))
            .select("user_id")
            .distinct()
        )
        fresh = b.join(done_users, "user_id", "left_anti")
        merged = (
            state.select("bucket", "user_id", "day", "c", "as_of_batch")
            .unionByName(
                fresh.select(
                    "bucket",
                    "user_id",
                    "day",
                    "c",
                    F.lit(int(batch_id)).cast("bigint").alias("as_of_batch"),
                )
            )
            .groupBy("bucket", "user_id", "day")
            .agg(F.sum("c").alias("c"), F.max("as_of_batch").alias("as_of_batch"))
        )
    else:
        merged = b.select(
            "bucket",
            "user_id",
            "day",
            "c",
            F.lit(int(batch_id)).cast("bigint").alias("as_of_batch"),
        )
    _state.fold(merged.repartition("bucket"), path, "bucket", touched)
    b.unpersist()
    if state is not None:
        state.unpersist()
    commit_marker(state_dir, batch_id)


def read_decay(
    spark: SparkSession,
    state_dir: str,
    asof: str,
) -> DataFrame:
    """(user_id, decay_score, n_events) as of ``asof`` — the q139 row
    shape, scored from the folded counts with the identical dyadic
    kernel (exact, fold-order-free). ``asof`` must be at or after any
    compaction horizon used (a NULL day row is always-capped)."""
    counts = _state.read(spark, _counts_path(state_dir), "bucket")
    if counts is None:
        raise ValueError(f"no decay state at {state_dir}")
    k = decay_age(F.col("day"), asof)
    term = F.expr(
        "cast(c as double) / cast(shiftleft(cast(1 as bigint), k) as double)"
    )
    return (
        counts.withColumn("k", k)
        .groupBy("user_id")
        .agg(
            F.sum(term).alias("decay_score"),
            F.sum("c").cast("long").alias("n_events"),
        )
    )


def compact_decay(spark: SparkSession, state_dir: str, horizon: str) -> None:
    """Out-of-band OPTIMIZE: fold every day at or older than
    ``horizon − DECAY_KCAP`` into ONE always-capped sentinel row per
    user (day = NULL) — for any read ``asof ≥ horizon`` those days all
    score at 2^-KCAP anyway, so the answer is pinned unchanged while
    state drops to ≤ (KCAP + 1) + 1 rows per user."""
    path = _counts_path(state_dir)
    cur = _state.read(spark, path, "bucket")
    if cur is None:
        return
    cutoff = F.lit(horizon).cast("date") - F.lit(DECAY_KCAP)
    old = F.col("day").isNull() | (F.col("day") <= cutoff)
    folded = (
        cur.withColumn("day", F.when(old, F.lit(None).cast("date")).otherwise(F.col("day")))
        .groupBy("bucket", "user_id", "day")
        .agg(F.sum("c").alias("c"), F.max("as_of_batch").alias("as_of_batch"))
    )
    all_buckets = [int(r.bucket) for r in cur.select("bucket").distinct().collect()]
    _state.fold(folded, path, "bucket", all_buckets)


def incremental_decay(
    events: DataFrame,
    state_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    checkpoint: str | None = None,
):
    """Start the decayed-activity maintenance query; returns the
    StreamingQuery. The count fold is convergent but not reprocessable
    under reset batch ids, so a restart over existing state requires a
    checkpoint."""
    return _state.start(
        events,
        lambda df, bid: merge_decay_batch(df, bid, state_dir, user_col, ts_col),
        applied_batch(state_dir),
        checkpoint,
    )
