"""Incremental rolling-anomaly monitor — the streaming twin of q147.

Batch q147 scores each (user, day) against the user's trailing-7-day
mean/variance; the live form must keep scoring as events arrive OUT
OF ORDER — a late event changes its day's count, and that day's count
sits inside the trailing window of up to seven LATER days, so those
verdicts must revise too. The state/emission design:

- ``daily/`` — APPEND-ONLY count deltas ``(bucket, user_id, day, c,
  batch_id)``, hash-bucket-partitioned on user. A day's true count is
  the SUM of its deltas after deduping exact replay duplicates by
  (user, day, batch_id) — addition is order-free, so the fold is an
  O(batch) append with zero read-modify-write, and a replayed batch's
  delta collapses in the dedup instead of double-counting (the
  additive-fold replay trap: an upsert fold re-applied after a crash
  inside the swap would inflate counts with no way to tell).
  ``compact_daily`` is the out-of-band OPTIMIZE (merge deltas).
- ``reports/`` — appended verdict rows; for every batch, the verdicts
  of ALL days of the touched users are recomputed from state with the
  EXACT batch kernel (integer window sums, closed-form variance —
  operators-level parity by shared arithmetic, not reimplementation)
  and re-emitted. The reader resolves revisions LATEST-WINS by
  (user, day) on batch_id — the gapfill re-emission contract.

Per-batch cost: append O(batch) + recompute O(days of touched users)
— bounded by per-user activity, never corpus-wide. Exactness: after
any in-order or out-of-order replay, the latest verdicts equal batch
q147 on the union of everything delivered
(tests/test_streaming_anomaly.py)."""

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

N_BUCKETS = 32
MIN_DAYS = 4  # the q147 warm-up floor
WIN = 7


def _daily_path(state_dir: str) -> str:
    return os.path.join(state_dir, "daily")


def _reports_path(state_dir: str) -> str:
    return os.path.join(state_dir, "reports")


def _bucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col, F.lit("anom")), F.lit(N_BUCKETS)).cast("int")


def _verdicts(daily: DataFrame) -> DataFrame:
    """The q147 kernel verbatim over (user_id, day, c) rows: integer
    trailing-window sums, closed-form variance, exact flag."""
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, Window.currentRow)
    stats = daily.select(
        "user_id",
        "day",
        F.col("c").cast("long").alias("c"),
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("c").over(w).cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).cast("long").alias("ss"),
    ).filter(F.col("n") >= MIN_DAYS)
    mean = F.col("s") / F.col("n")
    var = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")) / (
        F.col("n") * (F.col("n") - 1)
    )
    dev = F.col("c") - mean
    return stats.select(
        "user_id",
        "day",
        "c",
        F.round(mean, 6).alias("mean7"),
        F.round(var, 6).alias("var7"),
        (dev * dev > F.lit(4) * var).cast("int").alias("anomaly"),
    )


def merge_anomaly_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> None:
    """Fold one micro-batch of raw events and re-emit the touched
    users' verdicts."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession

    delta = (
        batch_df.groupBy(
            F.col(user_col).alias("user_id"), F.to_date(ts_col).alias("day")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("bucket", _bucket(F.col("user_id")))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
        .cache()
    )
    if delta.limit(1).count() == 0:
        delta.unpersist()
        commit_marker(state_dir, batch_id)
        return
    _state.append(delta.repartition("bucket"), _daily_path(state_dir), "bucket")

    # recompute the touched users' full verdict set from state (the
    # trailing window of up to 7 later days shifts with every late
    # delta, so per-user recompute is the correct granularity)
    touched_users = delta.select("user_id").distinct()
    touched_buckets = [
        int(r.bucket) for r in delta.select("bucket").distinct().collect()
    ]
    state = _state.read(spark, _daily_path(state_dir), "bucket")
    daily = (
        state.filter(F.col("bucket").isin(touched_buckets))
        .dropDuplicates(["user_id", "day", "batch_id"])
        .join(F.broadcast(touched_users), "user_id", "inner")
        .groupBy("user_id", "day")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    report = _verdicts(daily).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("bigint")
    )
    if report.limit(1).count():
        _state.append(report.coalesce(8), _reports_path(state_dir), None)
    delta.unpersist()
    commit_marker(state_dir, batch_id)


def read_anomalies(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest verdict per (user, day), anomalies only — revisions from
    late data resolve LATEST-WINS on batch_id (exact replay
    duplicates collapse to one row)."""
    rep = _state.read(spark, _reports_path(state_dir))
    if rep is None:
        raise ValueError(f"no anomaly reports at {state_dir}")
    w = Window.partitionBy("user_id", "day").orderBy(F.desc("batch_id"))
    latest = (
        rep.dropDuplicates(["user_id", "day", "batch_id"])
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "batch_id")
    )
    return latest.filter(F.col("anomaly") == 1)


def compact_daily(spark: SparkSession, state_dir: str) -> None:
    """Out-of-band OPTIMIZE: merge per-batch count deltas into one row
    per (user, day), marked batch_id = -1.

    ONLY deltas of marker-covered batches merge: a replay of a fully
    applied batch no-ops at the marker, so merging its deltas is safe
    — but a batch ABOVE the marker (the append-done/marker-lost crash
    window) WILL redeliver, and its replayed delta must still collapse
    against the surviving original in the (user, day, batch_id) dedup;
    merging it into a -1 row would break that key and double-count.
    Such deltas stay verbatim until their batch commits."""
    path = _daily_path(state_dir)
    cur = _state.read(spark, path, "bucket")
    if cur is None:
        return
    covered = int(applied_batch(state_dir))
    safe = cur.filter(F.col("batch_id") <= covered)
    pending = cur.filter(F.col("batch_id") > covered).dropDuplicates(
        ["user_id", "day", "batch_id"]
    )
    merged = (
        safe.dropDuplicates(["user_id", "day", "batch_id"])
        .groupBy("bucket", "user_id", "day")
        .agg(F.sum("c").cast("long").alias("c"))
        .withColumn("batch_id", F.lit(-1).cast("bigint"))
        .select("bucket", "user_id", "day", "c", "batch_id")
    )
    out = merged.unionByName(pending.select("bucket", "user_id", "day", "c", "batch_id"))
    all_buckets = [int(r.bucket) for r in cur.select("bucket").distinct().collect()]
    _state.fold(out, path, "bucket", all_buckets)


def incremental_anomaly(
    events: DataFrame,
    state_dir: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    checkpoint: str | None = None,
):
    """Start the monitor; returns the StreamingQuery. Restart over
    existing state requires a checkpoint (the shared reset-batch-id
    contract)."""
    return _state.start(
        events,
        lambda df, bid: merge_anomaly_batch(df, bid, state_dir, ts_col, user_col),
        applied_batch(state_dir),
        checkpoint,
    )
