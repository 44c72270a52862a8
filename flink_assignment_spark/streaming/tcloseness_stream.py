"""Streaming t-closeness monitor — the incremental twin of q154.

Unlike k-anonymity and l-diversity, t-closeness is NOT monotone under
inserts: a group whose sensitive distribution tracks the global one
today can drift past t tomorrow (and back), because BOTH
distributions move. So there is no open-once gate here — the honest
streaming form is a MONITOR whose audit is derived from folded state
at read time (the retention-stream pattern): state is the projected
record set (id, quasi…, banded value), bucketed by quasi hash with a
strictly-new set-union fold, and ``read_tcloseness`` runs the exact
batch audit (``operators/privacy.t_closeness_audit``'s integer EMD)
over everything seen. Late or replayed arrivals converge for free;
verdicts legitimately flip in both directions as data accumulates —
pinned by test.

State bounded by the released table's own size (privacy tables are
people-shaped, not corpus-shaped); per-batch cost is O(batch +
touched buckets).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 32


def _path(state_dir: str) -> str:
    return os.path.join(state_dir, "records")


def _project(
    df: DataFrame, id_col: str, quasi_cols: list[str], sensitive: Column
) -> DataFrame:
    enc = [
        F.coalesce(
            F.concat(F.lit("\x01"), F.col(c).cast("string")), F.lit("\x00")
        )
        for c in quasi_cols
    ]
    return df.select(
        F.col(id_col).alias("_id"), *quasi_cols, sensitive.alias("_v")
    ).withColumn(
        "bucket",
        F.pmod(
            F.xxhash64(F.concat_ws("\x1f", *enc), F.lit("tclose")),
            F.lit(N_BUCKETS),
        ).cast("int"),
    )


def merge_tcloseness_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    id_col: str,
    quasi_cols: list[str],
    sensitive: Column,
) -> None:
    """Fold one micro-batch's projected records into the touched
    buckets (set union on record id — replay-convergent)."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    new = _project(batch_df, id_col, quasi_cols, sensitive).cache()
    touched = [int(r.bucket) for r in new.select("bucket").distinct().collect()]
    if not touched:
        new.unpersist()
        commit_marker(state_dir, batch_id)
        return
    path = _path(state_dir)
    state = _state.read(spark, path, "bucket")
    if state is not None:
        old = state.filter(F.col("bucket").isin(touched)).select(*new.columns)
        merged = old.unionByName(new).dropDuplicates(["_id"])
    else:
        merged = new
    _state.fold(merged, path, "bucket", touched)
    new.unpersist()
    commit_marker(state_dir, batch_id)


def read_tcloseness(
    spark: SparkSession,
    state_dir: str,
    quasi_cols: list[str],
    t_frac: tuple[int, int] = (1, 5),
) -> DataFrame:
    """The exact batch t-closeness audit over everything seen — same
    columns and integer arithmetic as q154."""
    from ..operators.privacy import t_closeness_audit

    st = _state.read(spark, _path(state_dir), "bucket")
    if st is None:
        raise ValueError(f"no t-closeness state at {state_dir}")
    return t_closeness_audit(st, quasi_cols, F.col("_v"), t_frac=t_frac)


def incremental_tcloseness(
    records: DataFrame,
    state_dir: str,
    id_col: str,
    quasi_cols: list[str],
    sensitive: Column,
    checkpoint: str | None = None,
):
    """Start the monitor fold; returns the StreamingQuery. Restart
    over existing state requires a checkpoint (the shared
    reset-batch-id contract)."""
    return _state.start(
        records,
        lambda df, bid: merge_tcloseness_batch(
            df, bid, state_dir, id_col, quasi_cols, sensitive
        ),
        applied_batch(state_dir),
        checkpoint,
    )
