"""Incremental SCD Type-2 interval maintenance — the streaming twin
of q127 (operators/timeseries.scd2_intervals).

A live changelog must keep the dimension's validity intervals current
as events land: each micro-batch may extend a key's OPEN interval
(same attribute value — nothing changes), close it (value changed —
the open row gets a ``valid_to`` and a successor opens), or chain
several closures when one batch carries several value changes. State
under ``foreachBatch``:

- ``current/`` — ONE open interval per key:
  ``(bucket, key, state, valid_from, version, as_of_batch)``,
  hash-bucket-partitioned. UPSERT state (an open interval is replaced
  when it closes), folded by swapping only the touched bucket
  directories (``_state.fold`` — the bounded-rewrite MERGE
  stand-in).
- ``closed/`` — append-only closed intervals:
  ``(key, state, valid_from, valid_to, version, batch_id)``. A key's
  version sequence is contiguous from 1, so (key, version) identifies
  an interval forever.

Replay contract (foreachBatch is at-least-once): the apply order is
closed-append → current-swap → marker. A fully-applied redelivery is
skipped by the marker. A crash between the appends replays into:
exact-duplicate closed rows (the replay recomputes the identical
chain from the same pre-batch state — ``read_scd2`` drops them on
(key, version)), and a current table where SOME buckets already
carry the batch's swap. ``as_of_batch`` closes that window: keys
whose open row already records this batch id are excluded from the
replayed computation (their closed rows are guaranteed present —
closed-append strictly precedes any swap), so the fold converges
instead of double-advancing versions. Like the detector streams, an
UNCHECKPOINTED restart over existing state is refused
(``_state.start``): a reset batch-id sequence would
replay history into a state that has already consumed it.

In-order contract (shared with the other streaming twins): events
arrive in event-time order across batches — each batch's timestamps
are >= every open interval's ``valid_from``. Under a frozen-corpus
in-order replay, ``read_scd2`` equals batch q127 row-for-row (pinned
by tests/test_streaming_scd2.py). Out-of-order arrival keeps the
chain CONSISTENT (gapless, contiguous versions) but dates intervals
by arrival, as any non-bitemporal SCD2 build must.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import hash60
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 64


def _current_path(state_dir: str) -> str:
    return os.path.join(state_dir, "current")


def _closed_path(state_dir: str) -> str:
    return os.path.join(state_dir, "closed")


def _bucket(key_col):
    return F.pmod(hash60(key_col.cast("string")), F.lit(N_BUCKETS)).cast("int")


def merge_scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> None:
    """Apply one micro-batch of changelog events to the interval
    state — see the module docstring for the chain construction and
    the crash/replay contract."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    cur_path, closed_path = _current_path(state_dir), _closed_path(state_dir)

    ev = batch_df.select(
        F.col(key_col).alias("key"),
        F.col(attr_col).cast("string").alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.col(tie_col).cast("bigint").alias("tie"),
    )
    # in-batch run collapse — the same lag shape as the batch operator
    ordw = Window.partitionBy("key").orderBy(F.asc("valid_from"), F.asc("tie"))
    # null-safe, like the batch operator: a transition TO a NULL state
    # opens a new interval; NULL→NULL is no change. First-row
    # detection rides a constant lag because lag(state) is NULL both
    # on the first row and after a NULL value.
    runs = (
        ev.withColumn("__prev", F.lag("state").over(ordw))
        .withColumn("__first", F.lag(F.lit(1)).over(ordw).isNull())
        .filter(F.col("__first") | ~F.col("__prev").eqNullSafe(F.col("state")))
        .drop("__prev", "__first")
        .withColumn("bucket", _bucket(F.col("key")))
    ).cache()
    if runs.count() == 0:
        runs.unpersist()
        commit_marker(state_dir, batch_id)
        return

    touched = [int(r.bucket) for r in runs.select("bucket").distinct().collect()]
    state = _state.read(spark, cur_path, "bucket")
    if state is not None:
        state = state.filter(F.col("bucket").isin(touched)).cache()
        state.count()
        open_rows = state.select(
            "key",
            F.col("state").alias("cur_state"),
            F.col("valid_from").alias("cur_from"),
            F.col("version").alias("cur_version"),
            F.col("as_of_batch").alias("cur_as_of"),
        )
    else:
        open_rows = None

    first_run_w = Window.partitionBy("key").orderBy(F.asc("valid_from"), F.asc("tie"))
    keyed = runs.withColumn("ridx", F.row_number().over(first_run_w))
    if open_rows is not None:
        keyed = keyed.join(open_rows, "key", "left")
        # crash-window guard: a key whose open row already records
        # THIS batch id was fully applied before the crash (closed
        # rows precede any swap) — recomputing it would double-advance
        keyed = keyed.filter(
            F.col("cur_as_of").isNull() | (F.col("cur_as_of") < F.lit(int(batch_id)))
        )
    else:
        keyed = (
            keyed.withColumn("cur_state", F.lit(None).cast("string"))
            .withColumn("cur_from", F.lit(None).cast(keyed.schema["valid_from"].dataType))
            .withColumn("cur_version", F.lit(None).cast("bigint"))
        )
    # merged: the batch's first run continues the open interval.
    # cur_state can be legitimately NULL on an OPEN row (a NULL-state
    # interval), so "has an open row" keys off cur_version (never NULL
    # on an open row) and the state compare is null-safe.
    merged = (
        (F.col("ridx") == 1)
        & F.col("cur_version").isNotNull()
        & F.col("cur_state").eqNullSafe(F.col("state"))
    )
    run_links = keyed.filter(~F.coalesce(merged, F.lit(False))).select(
        "key", "bucket", "state", "valid_from", "tie", "cur_version"
    )
    base_links = (
        keyed.filter(F.col("ridx") == 1)
        .filter(F.col("cur_version").isNotNull())
        .select(
            "key",
            "bucket",
            F.col("cur_state").alias("state"),
            F.col("cur_from").alias("valid_from"),
            F.lit(-1).cast("bigint").alias("tie"),  # sorts before any event
            "cur_version",
        )
    )
    chain = base_links.unionByName(run_links).cache()
    chain.count()
    runs.unpersist()

    seq_w = Window.partitionBy("key").orderBy(F.asc("valid_from"), F.asc("tie"))
    linked = chain.select(
        "key",
        "bucket",
        "state",
        "valid_from",
        (
            F.coalesce(F.col("cur_version"), F.lit(1))
            + F.row_number().over(seq_w)
            - 1
        ).alias("version"),
        F.lead("valid_from").over(seq_w).alias("valid_to"),
    ).cache()
    linked.count()
    chain.unpersist()

    closed = linked.filter(F.col("valid_to").isNotNull()).select(
        "key",
        "state",
        "valid_from",
        "valid_to",
        "version",
        F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
    )
    _state.append(closed.coalesce(8), closed_path, None)

    new_open = linked.filter(F.col("valid_to").isNull()).select(
        "key",
        "state",
        "valid_from",
        "version",
        F.lit(int(batch_id)).cast("bigint").alias("as_of_batch"),
        "bucket",
    )
    if state is not None:
        carried = state.join(
            new_open.select("key").distinct(), "key", "left_anti"
        ).select("key", "state", "valid_from", "version", "as_of_batch", "bucket")
        folded = carried.unionByName(new_open)
    else:
        folded = new_open
    _state.fold(folded.repartition("bucket"), cur_path, "bucket", touched)
    linked.unpersist()
    if state is not None:
        state.unpersist()
    commit_marker(state_dir, batch_id)


def read_scd2(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full SCD2 table: closed intervals (replay duplicates
    dropped on (key, version)) plus the open interval per key
    (``valid_to`` null, ``is_current`` 1) — the same shape batch
    q127 emits."""
    closed = _state.read(spark, _closed_path(state_dir))
    current = _state.read(spark, _current_path(state_dir), "bucket")
    cols = ["key", "state", "valid_from", "valid_to", "version", "is_current"]
    parts = []
    if closed is not None:
        parts.append(
            closed.dropDuplicates(["key", "version"])
            .withColumn("is_current", F.lit(0))
            .select(*cols)
        )
    if current is not None:
        parts.append(
            current.withColumn("valid_to", F.lit(None).cast(current.schema["valid_from"].dataType))
            .withColumn("is_current", F.lit(1))
            .select(*cols)
        )
    if not parts:
        raise ValueError(f"no SCD2 state at {state_dir}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def incremental_scd2(
    events: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    checkpoint: str | None = None,
):
    """Start the interval-maintenance query; returns the
    StreamingQuery. Refuses an uncheckpointed restart over existing
    state — the swap fold cannot reprocess a reset batch-id sequence
    (same contract as the detector streams)."""
    return _state.start(
        events,
        lambda df, bid: merge_scd2_batch(
            df, bid, state_dir, key_col, attr_col, ts_col, tie_col
        ),
        applied_batch(state_dir),
        checkpoint,
    )
