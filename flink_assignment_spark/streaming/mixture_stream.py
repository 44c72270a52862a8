"""Incremental mixture rebalancing — the streaming twin of q67.

Batch q67's keep-rates are GLOBAL scalars (T = min_g(n_g / w_g),
rate_g = w_g·T/n_g) that change as the corpus grows, so a stream
cannot gate with "the" rates — it gates each micro-batch with the
rates implied by the corpus SO FAR. This module maintains, under a
``foreachBatch`` sink:

- ``counts/`` — cumulative per-group doc counts for the weighted
  groups (group-cardinality: a handful of rows, replaced per batch
  through ``_state.replace`` — the applied-batch marker
  commits atomically WITH the fold, so a replayed batch can never
  double-count).
- ``kept/`` — appended kept docs ``(key, group)``. A replay that
  raced the marker may re-append a batch; the keep decision is a
  deterministic hash against rates derived from identical counts, so
  re-appended rows are byte-identical duplicates —
  :func:`read_kept_mixture` drops them by key.

All state I/O goes through the shared store in ``_state`` (the kept/
table used to raw-append on its own, outside the store's crash
contracts).

Per batch: fold the batch's group counts into state FIRST, derive
rates from the post-fold counts, then gate the batch's docs with the
batch-q67 uniform-hash rule. Gating after the fold makes the
semantics exact at the boundary: a single-batch replay IS batch q67
(same counts, same T, same per-doc decisions), and on a multi-batch
replay the final batch is gated with exactly the full-corpus batch
rates. Earlier batches were gated with earlier (noisier) rates —
that is the inherent price of incremental rebalancing; as cumulative
counts converge to the corpus frequencies the per-batch rates
converge to batch q67's, and the achieved mixture with them
(pinned with tolerance in tests/test_streaming_mixture.py).

Batch q67 raises on a weighted group with zero corpus rows
(infeasible mixture). A stream cannot distinguish "not yet arrived"
from "absent", so here T is computed over weighted groups SEEN so
far and absent groups simply don't constrain it yet — the stream
converges to the batch answer when every weighted group eventually
appears, which is exactly when batch q67 is feasible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import uniform_from_key
from . import _state


def _counts_path(state_dir: str) -> str:
    return os.path.join(state_dir, "counts")


def _kept_path(state_dir: str) -> str:
    return os.path.join(state_dir, "kept")


def merge_mixture_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    weights: dict[str, float],
    key_col: str = "doc_id",
    group_col: str = "lang",
    salt: str = "mix",
) -> None:
    """Fold one micro-batch into the count state and append its kept
    docs, gated by the post-fold rates."""
    cpath = _counts_path(state_dir)
    if batch_id <= _state.meta_applied_batch(cpath):
        return
    spark = batch_df.sparkSession
    os.makedirs(state_dir, exist_ok=True)

    weighted = batch_df.filter(F.col(group_col).isin(list(weights)))
    batch_counts = weighted.groupBy(group_col).agg(F.count("*").alias("n"))
    old = _state.read(spark, cpath)
    if old is not None:
        merged_df = (
            old.select(group_col, "n")
            .unionByName(batch_counts)
            .groupBy(group_col)
            .agg(F.sum("n").alias("n"))
        )
    else:
        merged_df = batch_counts
    # group-cardinality collect (a handful of rows) — the same bounded
    # driver action as batch mixture_rates
    merged = {r[group_col]: int(r["n"]) for r in merged_df.collect()}

    if merged:
        t = min(n / weights[g] for g, n in merged.items())
        rates = [(g, weights[g] * t / n) for g, n in merged.items()]
        rates_df = spark.createDataFrame(
            rates, f"{group_col} string, keep_rate double"
        )
        kept = weighted.join(F.broadcast(rates_df), group_col).filter(
            uniform_from_key(F.col(key_col), salt) < F.col("keep_rate")
        )
        _state.append(kept.select(key_col, group_col), _kept_path(state_dir), None)

    # counts fold + marker in one atomic commit
    out = spark.createDataFrame(
        list(merged.items()), f"{group_col} string, n long"
    )
    _state.replace(
        out.coalesce(1), cpath, {"applied_batch": int(batch_id)}
    )


def incremental_mixture_rebalance(
    docs: DataFrame,
    state_dir: str,
    weights: dict[str, float],
    key_col: str = "doc_id",
    group_col: str = "lang",
    salt: str = "mix",
    checkpoint: str | None = None,
):
    """Start the rebalancing query; returns the StreamingQuery.
    Restart over existing state requires a checkpoint (``_state.start``)."""
    return _state.start(
        docs,
        lambda df, bid: merge_mixture_batch(
            df, bid, state_dir, weights, key_col, group_col, salt
        ),
        _state.meta_applied_batch(_counts_path(state_dir)),
        checkpoint,
    )


def read_kept_mixture(
    spark: SparkSession,
    state_dir: str,
    key_col: str = "doc_id",
    group_col: str = "lang",
    key_type: str = "long",
    group_type: str = "string",
) -> DataFrame:
    """The accumulated kept corpus (replay duplicates dropped by key).
    The before-any-data frame is built from the SAME column names and
    types the caller gave ``merge_mixture_batch`` (round-6 advisory:
    it was hardcoded to ``doc_id long, lang string``, mismatching
    non-default streams)."""
    df = _state.read(spark, _kept_path(state_dir))
    if df is None:
        return spark.createDataFrame(
            [], f"{key_col} {key_type}, {group_col} {group_type}"
        )
    return df.dropDuplicates([key_col])


def read_mixture_counts(
    spark: SparkSession,
    state_dir: str,
    group_col: str = "lang",
) -> DataFrame:
    """Cumulative per-group counts: ``(group, n)``."""
    df = _state.read(spark, _counts_path(state_dir))
    if df is None:
        return spark.createDataFrame([], f"{group_col} string, n long")
    return df
