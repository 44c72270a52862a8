"""Streaming cohort retention — the incremental twin of q148.

q148 cohorts users by their FIRST active epoch-week and reports, per
(cohort_week, weeks_since), the distinct users active that many weeks
later. The streaming wrinkle is that a LATE event can move a user's
cohort EARLIER (first-seen is a min-fold, and minimum only ever
decreases under inserts) — which retroactively shifts every one of
that user's cells and the sizes of TWO cohorts. Appending retention
cells per batch would therefore need multi-cell retractions; instead
the state is the thing that folds monotonically — the distinct
``(user_id, week)`` activity set, bucketed by user hash — and the
retention table is DERIVED from state at read time, so late-data
revision is automatic and exact (the anomaly stream's latest-wins
verdict idea, taken to its fixpoint: the served table is always the
batch answer over everything seen).

Scale shape: the state is bounded by |users| × |active weeks| (tiny
per row: two longs), the per-batch fold touches only the arriving
users' buckets with a strictly-new anti-join (set-union semantics —
replay-convergent under the swap), and the derived table is two
aggregates over bounded keys, exactly q148's plan. State layout under
``state_dir``:

- ``userweeks/`` — distinct (user_id, week), hash-bucket-partitioned
  on user (the bounded-rewrite shape; erasure composes via
  ``erasure_stream.purge_bucketed_state`` like any bucketed state).
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
_EPOCH_MONDAY = "1970-01-05"  # q148's engine-stable week origin


def _path(state_dir: str) -> str:
    return os.path.join(state_dir, "userweeks")


def _user_weeks(df: DataFrame, ts_col: str, user_col: str) -> DataFrame:
    week = F.floor(
        F.datediff(F.to_date(F.col(ts_col)), F.lit(_EPOCH_MONDAY).cast("date")) / 7
    )
    return (
        df.select(
            F.col(user_col).alias("user_id"), week.cast("long").alias("week")
        )
        .distinct()
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("user_id", F.lit("retention")), F.lit(N_BUCKETS)).cast(
                "int"
            ),
        )
    )


def merge_retention_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> None:
    """Fold one micro-batch's distinct (user, week) activity into the
    touched buckets — a set union, so any replay converges."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    new = _user_weeks(batch_df, ts_col, user_col).cache()
    touched = [int(r.bucket) for r in new.select("bucket").distinct().collect()]
    if not touched:
        new.unpersist()
        commit_marker(state_dir, batch_id)
        return
    path = _path(state_dir)
    state = _state.read(spark, path, "bucket")
    if state is not None:
        old = state.filter(F.col("bucket").isin(touched)).select(
            "bucket", "user_id", "week"
        )
        merged = old.unionByName(new.select("bucket", "user_id", "week")).dropDuplicates(
            ["user_id", "week"]
        )
    else:
        merged = new.select("bucket", "user_id", "week")
    _state.fold(merged, path, "bucket", touched)
    new.unpersist()
    commit_marker(state_dir, batch_id)


def read_retention(spark: SparkSession, state_dir: str) -> DataFrame:
    """The retention table over everything seen — identical columns
    and arithmetic to q148 (cohort, weeks_since, n_active,
    cohort_size, retention), derived from the activity state so late
    arrivals (including cohort-moving ones) are already reflected."""
    st = _state.read(spark, _path(state_dir), "bucket")
    if st is None:
        raise ValueError(f"no retention state at {state_dir}")
    weekly = st.select("user_id", "week").distinct()
    first = weekly.groupBy("user_id").agg(F.min("week").alias("cohort"))
    cells = (
        weekly.join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("weeks_since"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )
    size = first.groupBy("cohort").agg(F.count("*").cast("long").alias("cohort_size"))
    return cells.join(size, "cohort").select(
        "cohort",
        F.col("weeks_since").cast("long").alias("weeks_since"),
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


def incremental_retention(
    events: DataFrame,
    state_dir: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    checkpoint: str | None = None,
):
    """Start the retention fold; returns the StreamingQuery. Restart
    over existing state requires a checkpoint (the shared
    reset-batch-id contract)."""
    return _state.start(
        events,
        lambda df, bid: merge_retention_batch(df, bid, state_dir, ts_col, user_col),
        applied_batch(state_dir),
        checkpoint,
    )
