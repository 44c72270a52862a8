"""Streaming k-anonymity gate — the holdback buffer.

The streaming form of ``operators/privacy.py``: a release pipeline
must not emit a record whose quasi-identifier group has fewer than k
members SO FAR — but unlike the batch suppression, a stream cannot
know a group is rare forever; it can only know the group is rare
*yet*. So the gate HOLDS BACK: records of an under-k group buffer in
state, and the moment the group's cumulative size reaches k, the
buffered members flush together with the arriving one and the group
is permanently open (k-anonymity is monotone under inserts — a group
never shrinks, so open-once is safe; erasure composes via
``erasure_stream.purge_bucketed_state`` on the pending table like any
other bucketed state).

State under ``state_dir`` (both hash-bucket-partitioned on the quasi
key, the bounded-rewrite shape):

- ``pending/`` — held-back records of still-closed groups. Bounded by
  (k − 1) × live closed groups; the long-tail groups that never open
  are exactly the records k-anonymity exists to withhold.
- ``open/`` — quasi keys that crossed k (1 row per open group,
  insert-only; membership means released-forever).
- ``released/`` — appended released records ``(…, batch_id)``.

Per batch: count arrivals per group, add pending counts for closed
groups; groups reaching k flush pending + arrivals to released and
join ``open``; arrivals of already-open groups pass straight through;
the rest append to pending. Replay: released/open appends may
duplicate (deduped at read); pending is rewritten by bucket swap
with the fold's convergent set-union semantics; ``_applied_batch``
marker skips fully-applied redeliveries; uncheckpointed restarts over
existing state are refused.
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


def _pending_path(state_dir: str) -> str:
    return os.path.join(state_dir, "pending")


def _open_path(state_dir: str) -> str:
    return os.path.join(state_dir, "open")


def _released_path(state_dir: str) -> str:
    return os.path.join(state_dir, "released")


def _with_key(df: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """One canonical string key per quasi combination + its state
    bucket. NULL-bijective per column (NULL → '\\x00', v → '\\x01'+v,
    the manifest row_digest encoding): concat_ws SKIPS null args, so
    the naive join would merge distinct quasi groups like (NULL,'x')
    and ('x',NULL) into one qkey and the gate could release records
    batch k_suppress (which groups per-column, NULL-safe) withholds
    (r15 ADVICE)."""
    enc = [
        F.coalesce(
            F.concat(F.lit("\x01"), F.col(c).cast("string")), F.lit("\x00")
        )
        for c in quasi_cols
    ]
    key = F.concat_ws("\x1f", *enc)
    return df.withColumn("qkey", key).withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("qkey"), F.lit("kanon")), F.lit(N_BUCKETS)).cast("int"),
    )


def merge_kanon_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    quasi_cols: list[str],
    k: int,
    id_col: str,
) -> None:
    """Fold one micro-batch through the holdback gate. ``id_col`` is
    the record identity the replay contract leans on: pending is
    deduped by it (a crash after the pending fold leaves the batch's
    rows both in state and redelivered) and arrivals already sitting
    in pending are treated as pending, not counted twice — without
    both fences a replay could inflate a group past k early."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    rows = _with_key(batch_df, quasi_cols).cache()
    if rows.limit(1).count() == 0:
        rows.unpersist()
        commit_marker(state_dir, batch_id)
        return

    open_df = _state.read(spark, _open_path(state_dir))
    open_keys = (
        open_df.select("qkey").distinct() if open_df is not None else None
    )
    if open_keys is not None:
        already = rows.join(F.broadcast(open_keys), "qkey", "inner")
        held = rows.join(F.broadcast(open_keys), "qkey", "left_anti")
    else:
        already = None
        held = rows

    # group sizes: this batch's arrivals + pending so far, on the
    # touched buckets only. Touched derives from ALL arrivals (pre
    # open-filter): a replay whose arrivals all belong to a now-open
    # group must still rewrite that group's bucket, or its released
    # backlog rows linger in pending/ as phantom holdbacks until some
    # later closed-group arrival happens to touch the bucket (r15
    # ADVICE — the crash window between the open append and the
    # pending fold).
    touched = [int(r.bucket) for r in rows.select("bucket").distinct().collect()]
    pending = _state.read(spark, _pending_path(state_dir), "bucket")
    pend_touched = (
        pending.filter(F.col("bucket").isin(touched))
        .dropDuplicates([id_col])
        .cache()
        if pending is not None and touched
        else None
    )
    if pend_touched is not None:
        # STRICTLY NEW arrivals: a replay whose crash fell after the
        # pending fold redelivers rows that are already in state —
        # counting them as both pending and arrival would inflate the
        # group size (the ssjoin cross-batch lesson)
        held = held.join(
            pend_touched.select(id_col).distinct(), id_col, "left_anti"
        )
    held = held.cache()
    arr_n = held.groupBy("qkey").agg(F.count("*").alias("n_arr"))
    if pend_touched is not None:
        pen_n = pend_touched.groupBy("qkey").agg(F.count("*").alias("n_pen"))
        totals = arr_n.join(pen_n, "qkey", "left").select(
            "qkey",
            (F.col("n_arr") + F.coalesce(F.col("n_pen"), F.lit(0))).alias("n"),
        )
    else:
        totals = arr_n.select("qkey", F.col("n_arr").alias("n"))
    opening = totals.filter(F.col("n") >= k).select("qkey").cache()

    # release: already-open arrivals + opening groups' arrivals +
    # opening groups' pending backlog
    parts = []
    if already is not None:
        parts.append(already)
    parts.append(held.join(F.broadcast(opening), "qkey", "inner"))
    if pend_touched is not None:
        parts.append(pend_touched.join(F.broadcast(opening), "qkey", "inner"))
    released = parts[0]
    for p in parts[1:]:
        released = released.unionByName(p)
    released = released.drop("bucket").withColumn(
        "batch_id", F.lit(int(batch_id)).cast("bigint")
    )
    # never create a bare-_SUCCESS parquet dir (unreadable): a batch
    # that releases nothing appends nothing
    if released.limit(1).count():
        _state.append(released.coalesce(8), _released_path(state_dir), None)
    if opening.count():
        _state.append(
            opening.coalesce(1), _open_path(state_dir), None
        )
    # pending rewrite: touched buckets keep only still-closed groups'
    # rows (old pending minus opened) plus the batch's still-closed
    # arrivals — a convergent, id-deduped set union, replay-safe under
    # the swap; rows of ALREADY-open groups are purged too (a crash
    # between the open append and this fold leaves released rows in
    # pending — they must not linger as phantom holdbacks)
    still_held = held.join(F.broadcast(opening), "qkey", "left_anti")
    if pend_touched is not None:
        keep = pend_touched.join(
            F.broadcast(opening), "qkey", "left_anti"
        ).unionByName(still_held)
    else:
        keep = still_held
    if open_keys is not None:
        keep = keep.join(F.broadcast(open_keys), "qkey", "left_anti")
    if touched:
        _state.fold(
            keep.dropDuplicates([id_col]), _pending_path(state_dir), "bucket", touched
        )
    for df in (opening, held, rows):
        df.unpersist()
    if pend_touched is not None:
        pend_touched.unpersist()
    commit_marker(state_dir, batch_id)


def read_released(spark: SparkSession, state_dir: str, id_col: str) -> DataFrame:
    """All records released so far (replay duplicates dropped by
    record id — a record releases exactly once per identity). A gate
    that has run but released NOTHING yet has no released/ table — a
    legitimate state, so the caller passes the record schema question
    back to pending; this raises only to flag the truly-absent
    case."""
    df = _state.read(spark, _released_path(state_dir))
    if df is None:
        raise ValueError(f"nothing released yet at {state_dir}")
    return df.dropDuplicates([id_col])


def read_pending(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Held-back records of still-closed groups (None before any
    fold)."""
    return _state.read(
        spark, _pending_path(state_dir), "bucket"
    )


def incremental_kanon(
    records: DataFrame,
    state_dir: str,
    quasi_cols: list[str],
    k: int,
    id_col: str,
    checkpoint: str | None = None,
):
    """Start the holdback gate; returns the StreamingQuery. Restart
    over existing state requires a checkpoint (the shared
    reset-batch-id contract)."""
    return _state.start(
        records,
        lambda df, bid: merge_kanon_batch(df, bid, state_dir, quasi_cols, k, id_col),
        applied_batch(state_dir),
        checkpoint,
    )
