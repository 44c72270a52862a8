"""Streaming hard-negative miner — q124 deployed on a live corpus.

The production shape mirrors the ANN probes but inverts which side
streams: the ANCHOR set (the training queries whose negatives we are
mining) is bounded and FROZEN — ids, vectors, and labels sharded into
broadcast blocks feeding the same ``make_block_hardneg_scorer`` kernel
batch q124 uses — while the CORPUS arrives continuously, and every
anchor's
current best-k different-label negatives must reflect everything seen
so far. That needs state, but a bounded one: the running top-k table
is at most ``|anchors| x k`` rows no matter how much corpus has
streamed past, so the per-batch fold is

    candidates(batch)             -- stateless narrow map, the batch
                                  -- kernel verbatim (per-batch top-k
                                  -- inside the 2e-6 slack band)
    UNION current top-k state     -- <= |anchors| x k rows
    -> dropDuplicates(anchor, neighbor)   -- at-least-once replays and
                                  -- state/batch overlap collapse to
                                  -- one row (scores are deterministic)
    -> rank, keep k               -- the q124 total order
    -> whole-table replace        -- O(anchors x k), never O(corpus)

Exactness vs batch q124 on a replayed corpus: a row in the global
top-k has fewer than k same-anchor rows anywhere that beat it, so in
its own batch it is within the kernel's slack-banded emission, and
every later fold keeps it (anything that displaces it would also
displace it globally). The rank order — (cos rounded to 6 DESC,
neighbor_id ASC) — is total, so batch and stream agree row-for-row
(pinned in tests/test_streaming_hardneg.py).

Replay: candidates are recomputed deterministically, the dedup
collapses redelivered rows, and the fold is idempotent — a batch
applied twice leaves the identical table; the ``_applied_batch``
marker skips fully-applied redeliveries outright.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import _state
from ._state import applied_batch, commit_marker, run_marker


def _topk_path(state_dir: str) -> str:
    return os.path.join(state_dir, "topk")


def freeze_anchors(
    anchors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchor_block: int = 65_536,
    max_anchor_total: int = 1_048_576,
):
    """Collect the bounded anchor set and build the broadcast-armed
    kernel ONCE — the artifact half of the split (the analogue of
    ivf_train's centroids). Returns the kernel; rebuild + restart to
    change anchors (blue/green, same as the ANN indexes).

    Anchors are SHARDED into ≤ ``max_anchor_block``-row blocks and
    broadcast (operators.similarity.collect_anchor_blocks — the same
    block fold that lifted batch q124's 65,536-anchor cliff), so a
    million-anchor miner degrades linearly; ``max_anchor_total`` is
    the broadcast-memory guard. The broadcast is memoized per
    (session, artifact fingerprint), so a restart against unchanged
    anchors reuses it."""
    from ..operators.similarity import _session_broadcast, collect_anchor_blocks
    from ..functions._pandas_udfs import make_block_hardneg_scorer

    blocks = collect_anchor_blocks(
        anchors, id_col, vec_col, label_col, max_anchor_block, max_anchor_total
    )
    bc = _session_broadcast(
        anchors.sparkSession, "anchors:" + blocks.fingerprint, blocks.blocks
    )
    return make_block_hardneg_scorer(bc, k)


def mine_negatives_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    kernel,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    marker: str = "_applied_batch",
) -> None:
    """Fold one corpus micro-batch into the running top-k negatives
    table (see module docstring for the exactness/replay contract)."""
    if batch_id <= applied_batch(state_dir, marker):
        return
    spark = batch_df.sparkSession
    cands = batch_df.select(
        F.col(id_col), F.col(vec_col), F.col(label_col)
    ).mapInPandas(
        kernel, schema="query_id bigint, neighbor_id bigint, cos_sim double"
    ).select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"))
    state = _state.read(spark, _topk_path(state_dir))
    if state is not None:
        cands = cands.unionByName(state.select("query_id", "neighbor_id", "cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    topk = (
        cands.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    # O(|anchors| x k) rows: the whole-table replace is the bounded
    # fold here, not a scale concern (the staging write materializes
    # the union BEFORE the old table moves)
    _state.replace(topk.coalesce(1), _topk_path(state_dir))
    commit_marker(state_dir, batch_id, marker)


def hard_negatives_stream(
    corpus: DataFrame,
    state_dir: str,
    kernel,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    checkpoint: str | None = None,
):
    """Start the miner; returns the StreamingQuery. ``kernel`` comes
    from :func:`freeze_anchors` (frozen artifact; anchor refresh =
    blue/green restart). Uncheckpointed restarts get a per-run replay
    marker (``_state.run_marker``) so a stale durable marker cannot
    silently mask the restarted run's reset batch ids (r12 ADVICE);
    the fold is deterministic and idempotent, so reprocessing
    converges to the identical top-k table."""
    marker = run_marker(checkpoint)

    return _state.start(
        corpus,
        lambda df, bid: mine_negatives_batch(
            df, bid, state_dir, kernel, k, id_col, vec_col, label_col, marker
        ),
        applied_batch(state_dir, marker),
        checkpoint,
    )


def read_hard_negatives(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current top-k negatives per anchor — (query_id,
    neighbor_id, cos_sim, rank), already globally folded."""
    return _state.read(spark, _topk_path(state_dir))
