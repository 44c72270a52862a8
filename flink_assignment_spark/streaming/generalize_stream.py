"""Streaming k-anonymization by generalization — the online form of
``operators/privacy.k_generalize`` (q150), completing the streaming
privacy surface next to the suppression-only holdback gate
(privacy_stream.py).

A release pipeline would rather coarsen a record's quasi-identifier
bands than withhold the record: arrivals try to release at the FINEST
level whose group has k members so far, buffering otherwise — and a
buffered record can later release at a coarser level when that
level's group fills first. Semantics per batch are EXACTLY the batch
operator's level walk over (pending ∪ arrivals), so a single-batch
stream equals ``k_generalize`` row-for-row; across batches arrival
order legitimately matters — a record the batch operator would
release at level 0 can release EARLIER at a coarser level here
(once released it cannot be refined, and its group's remaining
candidates may then starve the finer level). What is INVARIANT — and
what the tests pin — is the k-anonymity of everything released:
every (gen_level, generalized tuple) cohort accumulates ≥ k members,
each record releases exactly once, and open-once groups release all
later arrivals immediately (group monotonicity, as in the holdback
gate).

The level hierarchy must be NESTED (each level a coarsening of the
previous — Sweeney's generalization hierarchies are by construction):
nesting makes the COARSEST-level key a consistent co-location key, so
pending is hash-bucketed on it and every candidate of any group a
batch touches — at every level — lives in a touched bucket. That is
what keeps the fold a bounded rewrite instead of a state scan.

State under ``state_dir``:

- ``pending/`` — unreleased records with their per-level group keys,
  bucketed by coarsest-level key hash. Bounded by (k−1) × live
  closed groups per level.
- ``open/`` — (level, gkey) groups that have released (insert-only;
  open-forever is safe because group membership only grows).
- ``released/`` — appended released records (…, gen_level,
  batch_id); replay duplicates deduped at read by record id with the
  finest level winning deterministically.

Crash contract (the privacy_stream order): released append → open
append → pending bucket-swap → marker. A replay inside any window
converges: re-released rows dedup at read, re-opened groups dedup at
read, and the pending purge derives its touched buckets from ALL
arrivals so an already-open group's backlog cannot linger (the r15
phantom-holdback lesson, applied from birth).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
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


def _gkey(quasi_cols: list[str], overrides: dict[str, Column]) -> Column:
    """Canonical NULL-bijective string key of one level's generalized
    quasi tuple (the manifest row_digest encoding)."""
    enc = [
        F.coalesce(
            F.concat(
                F.lit("\x01"), overrides.get(c, F.col(c)).cast("string")
            ),
            F.lit("\x00"),
        )
        for c in quasi_cols
    ]
    return F.concat_ws("\x1f", *enc)


def _with_keys(
    df: DataFrame, quasi_cols: list[str], levels: list[dict[str, Column]]
) -> DataFrame:
    out = df
    for i, overrides in enumerate(levels):
        out = out.withColumn(f"_k{i}", _gkey(quasi_cols, overrides))
    return out.withColumn(
        "bucket",
        F.pmod(
            F.xxhash64(F.col(f"_k{len(levels) - 1}"), F.lit("kgen")),
            F.lit(N_BUCKETS),
        ).cast("int"),
    )


def merge_generalize_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    quasi_cols: list[str],
    levels: list[dict[str, Column]],
    k: int,
    id_col: str,
) -> None:
    """Fold one micro-batch through the generalize-then-release gate:
    the batch operator's level walk over (pending ∪ new arrivals),
    with open groups releasing immediately at their level."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    n_levels = len(levels)
    rows = _with_keys(batch_df, quasi_cols, levels).cache()
    if rows.limit(1).count() == 0:
        rows.unpersist()
        commit_marker(state_dir, batch_id)
        return

    touched = [int(r.bucket) for r in rows.select("bucket").distinct().collect()]
    pending = _state.read(spark, _pending_path(state_dir), "bucket")
    pend_touched = (
        pending.filter(F.col("bucket").isin(touched)).dropDuplicates([id_col]).cache()
        if pending is not None
        else None
    )
    if pend_touched is not None:
        # strictly-new fence: a replay redelivers rows already folded
        rows_new = rows.join(
            pend_touched.select(id_col).distinct(), id_col, "left_anti"
        )
        cand = pend_touched.unionByName(rows_new.select(*pend_touched.columns))
    else:
        cand = rows
    open_df = _state.read(spark, _open_path(state_dir))

    released_parts: list[DataFrame] = []
    opened_parts: list[DataFrame] = []
    cached: list[DataFrame] = []
    for lvl in range(n_levels):
        kc = f"_k{lvl}"
        cand = cand.cache()
        cached.append(cand)
        if open_df is not None:
            open_l = (
                open_df.filter(F.col("level") == lvl)
                .select(F.col("gkey").alias(kc))
                .distinct()
            )
            already = cand.join(F.broadcast(open_l), kc, "inner")
            cand = cand.join(F.broadcast(open_l), kc, "left_anti")
            released_parts.append(already.withColumn("gen_level", F.lit(lvl)))
        counts = cand.groupBy(kc).agg(F.count("*").alias("_n"))
        opening = counts.filter(F.col("_n") >= k).select(kc).cache()
        cached.append(opening)
        released_parts.append(
            cand.join(F.broadcast(opening), kc, "inner").withColumn(
                "gen_level", F.lit(lvl)
            )
        )
        opened_parts.append(
            opening.select(
                F.lit(lvl).alias("level"), F.col(kc).alias("gkey")
            )
        )
        cand = cand.join(F.broadcast(opening), kc, "left_anti")

    drop_cols = [f"_k{i}" for i in range(n_levels)] + ["bucket"]
    released = released_parts[0]
    for p in released_parts[1:]:
        released = released.unionByName(p)
    released = released.drop(*drop_cols).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("bigint")
    )
    if released.limit(1).count():
        _state.append(released.coalesce(8), _released_path(state_dir), None)
    opened = opened_parts[0]
    for p in opened_parts[1:]:
        opened = opened.unionByName(p)
    if opened.limit(1).count():
        _state.append(opened.coalesce(1), _open_path(state_dir), None)
    # pending rewrite over ALL arrival buckets (not just still-closed
    # ones): an already-open group's replayed backlog must purge
    _state.fold(
        cand.dropDuplicates([id_col]), _pending_path(state_dir), "bucket", touched
    )
    rows.unpersist()
    for df in cached:
        df.unpersist()
    if pend_touched is not None:
        pend_touched.unpersist()
    commit_marker(state_dir, batch_id)


def read_released(spark: SparkSession, state_dir: str, id_col: str) -> DataFrame:
    """Released records with their generalization level — replay
    duplicates resolved deterministically per record id (finest level,
    then earliest batch, wins)."""
    df = _state.read(spark, _released_path(state_dir))
    if df is None:
        raise ValueError(f"nothing released yet at {state_dir}")
    w = Window.partitionBy(id_col).orderBy("gen_level", "batch_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_pending(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Unreleased records (None before any fold)."""
    return _state.read(
        spark, _pending_path(state_dir), "bucket"
    )


def incremental_generalize(
    records: DataFrame,
    state_dir: str,
    quasi_cols: list[str],
    levels: list[dict[str, Column]],
    k: int,
    id_col: str,
    checkpoint: str | None = None,
):
    """Start the generalize-then-release gate; returns the
    StreamingQuery. Restart over existing state requires a checkpoint
    (the shared reset-batch-id contract)."""
    return _state.start(
        records,
        lambda df, bid: merge_generalize_batch(
            df, bid, state_dir, quasi_cols, levels, k, id_col
        ),
        applied_batch(state_dir),
        checkpoint,
    )
