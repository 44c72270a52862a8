"""Incremental PageRank — iterative graph analytics over streaming
edge state (the twin of q155).

PageRank cannot fold per batch: one new edge shifts every node's
rank, and the iterations need the WHOLE graph. What folds is the
graph itself — edge OCCURRENCES (one row per observed interaction,
e.g. a lineitem between a supplier nation and a customer nation)
accumulate as a strictly-new set union keyed by occurrence id, and
``read_pagerank`` derives the weights (count per (src, dst)) and runs
the exact integer kernel (operators/graph.weighted_pagerank) over
everything seen — so the served ranks ALWAYS equal the batch q155
answer over the ingested prefix, under any batching, arrival order,
or replay (the derived-at-read pattern shared with the retention and
t-closeness streams, here feeding an ITERATIVE algorithm).

State bounded by distinct observed occurrences (at web scale the
occurrence log would instead fold into per-(src, dst) counts with a
per-batch-delta dedup; the id-set form keeps replay exactness with
zero extra machinery, which is the right trade below that scale).
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


def _path(state_dir: str) -> str:
    return os.path.join(state_dir, "edges")


def merge_edges_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
) -> None:
    """Fold one micro-batch of edge occurrences (id, src, dst) into
    the id-hash buckets — set union on occurrence id, replay-safe."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    new = batch_df.select(
        F.col(id_col).alias("_id"),
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("_id", F.lit("prank")), F.lit(N_BUCKETS)).cast("int"),
    ).cache()
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


def read_pagerank(
    spark: SparkSession,
    state_dir: str,
    n_iters: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Ranks over every edge occurrence seen — identical to running
    the batch kernel on the ingested prefix."""
    from ..operators.graph import weighted_pagerank

    st = _state.read(spark, _path(state_dir), "bucket")
    if st is None:
        raise ValueError(f"no pagerank edge state at {state_dir}")
    edges = st.groupBy("src", "dst").agg(F.count("*").cast("long").alias("weight"))
    return weighted_pagerank(edges, n_iters=n_iters, damping_pct=damping_pct)


def incremental_pagerank(
    edges: DataFrame,
    state_dir: str,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str | None = None,
):
    """Start the edge fold; returns the StreamingQuery. Restart over
    existing state requires a checkpoint (the shared reset-batch-id
    contract)."""
    return _state.start(
        edges,
        lambda df, bid: merge_edges_batch(df, bid, state_dir, id_col, src, dst),
        applied_batch(state_dir),
        checkpoint,
    )
