"""Incremental distribution-drift monitoring — the streaming twin of
q134.

A live pipeline wants the drift alarm to update as events land, not
once per backfill: after every micro-batch, the total-variation
distance between the cumulative BASELINE window (events before the
cutoff) and the cumulative CURRENT window (events at/after it), in
the same exact integer space as batch q134. State under
``foreachBatch``:

- ``counts/`` — cumulative per-category (n_first, n_second) counts
  (category-cardinality: a handful of rows, replaced wholesale per
  batch; the applied-batch marker commits atomically WITH the fold
  via the counts table's meta, the mixture-stream contract, so a replayed
  batch can never double-count).
- ``report/`` — one appended drift report per batch:
  ``(batch_id, event_type, n_first, n_second, delta_ppm, tv_ppm)``
  — exactly q134's row shape plus provenance. After the final batch
  of an in-order replay the latest report EQUALS batch q134
  row-for-row (pinned in tests/test_streaming_drift.py); earlier
  reports are the drift trajectory a monitor would alert on.

The TV arithmetic is the q134 kernel verbatim-by-construction: bigint
cross products in DECIMAL(38,0), integer-ppm division, no float fold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _state


def _counts_path(state_dir: str) -> str:
    return os.path.join(state_dir, "counts")


def _report_path(state_dir: str) -> str:
    return os.path.join(state_dir, "report")


def merge_drift_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    cutoff: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> None:
    """Fold one micro-batch's per-category window counts into state
    and append the post-fold drift report. Replace-fold + meta-marker
    (atomic pair) means a redelivered batch is a no-op and a replay
    can never double-count; a crash between the fold and the report
    append only costs that batch's REPORT row, which the next batch's
    cumulative report supersedes (reports are monotone snapshots, not
    deltas)."""
    counts_path = _counts_path(state_dir)
    if batch_id <= _state.meta_applied_batch(counts_path):
        return
    spark = batch_df.sparkSession
    from ..operators.drift import window_counts

    batch_counts = window_counts(batch_df, cutoff, type_col, ts_col)
    prev = _state.read(spark, counts_path)
    if prev is not None:
        merged = (
            prev.unionByName(batch_counts)
            .groupBy("event_type")
            .agg(
                F.sum("n_first").alias("n_first"),
                F.sum("n_second").alias("n_second"),
            )
        )
    else:
        merged = batch_counts
    _state.replace(merged, counts_path, meta={"applied_batch": int(batch_id)})
    folded = _state.read(spark, counts_path)
    from ..operators.drift import tv_report

    report = tv_report(folded).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("bigint")
    )
    _state.append(report.coalesce(1), _report_path(state_dir), None)


def read_drift(spark: SparkSession, state_dir: str) -> DataFrame:
    """The LATEST cumulative drift report (max batch_id; duplicate
    appends from a replay are identical rows, dropped per category)."""
    rep = _state.read(spark, _report_path(state_dir))
    if rep is None:
        raise ValueError(f"no drift state at {state_dir}")
    last = rep.agg(F.max("batch_id")).collect()[0][0]
    return (
        rep.filter(F.col("batch_id") == last)
        .dropDuplicates(["event_type"])
        .select("event_type", "n_first", "n_second", "delta_ppm", "tv_ppm")
    )


def drift_trajectory(spark: SparkSession, state_dir: str) -> DataFrame:
    """One (batch_id, tv_ppm) row per applied batch — the alarm
    trajectory a monitor plots/thresholds."""
    rep = _state.read(spark, _report_path(state_dir))
    if rep is None:
        raise ValueError(f"no drift state at {state_dir}")
    return rep.select("batch_id", "tv_ppm").dropDuplicates(["batch_id"])


def incremental_drift(
    events: DataFrame,
    state_dir: str,
    cutoff: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    checkpoint: str | None = None,
):
    """Start the drift-monitoring query; returns the StreamingQuery.

    Restart contract (``_state.start``): the applied-batch marker
    lives in the counts meta and is correct only while batch ids keep
    increasing. An uncheckpointed restart resets batch ids to 0, so
    every batch ≤ the stale marker would be silently skipped — events
    lost from the cumulative counts with no error. It is refused; a
    fresh state dir or a checkpoint is required.
    """
    return _state.start(
        events,
        lambda df, bid: merge_drift_batch(df, bid, state_dir, cutoff, type_col, ts_col),
        _state.meta_applied_batch(_counts_path(state_dir)),
        checkpoint,
    )
