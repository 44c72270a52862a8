"""Incremental point-in-time feature lookup — the streaming twin of
q141, and the composition capstone of the feature-store streams: the
SCD2 stream (scd2_stream.py) maintains the dimension, and THIS stream
resolves each arriving fact against that live state with the q141
kernel (as-of at ts − 1µs — strictly before, so a fact never sees the
run it opened itself: the leakage-free contract).

Per ``foreachBatch`` (in-order, the scd2 contract): the orchestrator
first folds the batch's events into the SCD2 state, then hands the
batch's FACTS (e.g. purchases) here; the lookup reads the dimension's
current + closed intervals — which at that moment equal the batch
operator's ``scd2_intervals`` over every event seen so far — and
appends (event_id, user_id, ts_us, prior_state, prior_version) rows.
An in-order replay therefore reproduces batch q141 row-for-row
(pinned by tests/test_streaming_pit.py).

State under ``state_dir``: ``results/`` (appended lookups, deduped at
read by event_id — replays re-derive identical rows because the
dimension rows a fact's pit can see never change once written: SCD2
only APPENDS closed intervals and extends the open end) + the
``_applied_batch`` marker. Restart requires a checkpoint, as with
every marker-guarded sink here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)
from .scd2_stream import read_scd2


def _results_path(state_dir: str) -> str:
    return os.path.join(state_dir, "results")


def merge_pit_batch(
    facts: DataFrame,
    batch_id: int,
    state_dir: str,
    scd2_state_dir: str,
    id_col: str = "event_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Resolve one micro-batch of facts against the LIVE SCD2
    dimension (which the orchestrator folded first) — the q141 kernel
    verbatim."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = facts.sparkSession
    dim = read_scd2(spark, scd2_state_dir).select(
        F.col("key").alias(user_col),
        F.col("state"),
        F.col("valid_from").alias("vf"),
        F.col("version"),
    )
    f = facts.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col),
        F.col(ts_col).alias("ts"),
        F.expr(f"{ts_col} - INTERVAL 1 MICROSECOND").alias("pit"),
    )
    j = asof_join(
        f, dim, on=[user_col], left_ts="pit", right_ts="vf",
        tie_break="version", how="left",
    )
    out = j.select(
        "event_id",
        F.col(user_col).alias("user_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_state").alias("prior_state"),
        F.col("asof_version").cast("int").alias("prior_version"),
        F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
    )
    _state.append(out.coalesce(8), _results_path(state_dir), None)
    commit_marker(state_dir, batch_id)


def read_pit_results(spark: SparkSession, state_dir: str) -> DataFrame:
    """All resolved lookups so far — replay duplicates dropped by
    event id (re-derived rows are identical; see module docstring)."""
    res = _state.read(spark, _results_path(state_dir))
    if res is None:
        raise ValueError(f"no pit state at {state_dir}")
    return res.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "ts_us", "prior_state", "prior_version"
    )


def incremental_pit(
    facts: DataFrame,
    state_dir: str,
    scd2_state_dir: str,
    id_col: str = "event_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
    checkpoint: str | None = None,
):
    """Start the PIT lookup query; returns the StreamingQuery. The
    append fold is replay-idempotent but not reprocessable under reset
    batch ids, so a restart over existing state requires a
    checkpoint."""
    return _state.start(
        facts,
        lambda df, bid: merge_pit_batch(
            df, bid, state_dir, scd2_state_dir, id_col, user_col, ts_col
        ),
        applied_batch(state_dir),
        checkpoint,
    )
