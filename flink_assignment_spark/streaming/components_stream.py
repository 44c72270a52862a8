"""Incremental connected components — streaming duplicate-cluster
maintenance.

Closes the last batch-only stage of the dedup lifecycle: the LSH
stream emits near-dup PAIRS incrementally, but turning pairs into
CLUSTERS (q29) was a batch recomputation over all pairs ever seen.
This sink maintains the (node → component-min) mapping itself under
``foreachBatch``:

1. find the components AFFECTED by the batch: mapping rows whose node
   appears in a new pair, then every row sharing those components —
   two semi-join-shaped passes over the state, volume bounded by
   affected-component size, not corpus size;
2. solve the LOCAL graph — new pairs ∪ the affected components' star
   edges (node → component) — with the same
   ``operators.components.connected_components`` the batch query
   uses (driver union-find below its size threshold, distributed star
   contraction above);
3. rewrite only the node-hash partitions holding relabeled nodes
   (``streaming._state.fold``).

Correctness: a component's stored label is its min node id, so the
local graph contains every node of every component any new edge can
merge, and the local minimum IS the global minimum of the merged
component. Nodes in untouched components are never read twice nor
rewritten. Replay: the ``_applied_batch`` marker makes redelivery a
no-op; the fold itself is idempotent (same pairs → same labels).

Crash-replay healing: the partition swap is atomic per partition, so
a crash mid-swap can leave a merged component HALF-relabeled — e.g.
node 9's own row already updated to the new label while some member
in an unswapped partition still carries label 9. A replay that only
looked up the batch nodes' (already-updated) labels would never reach
that stale member, stranding a label that is no longer a root (the
round-6 advisory finding). Fix: before swapping, the fold writes a
tiny MERGE-INTENT file — the batch's (old label → new label) pairs,
tmp+rename-atomic — and a replay of the same uncommitted batch folds
those old labels back into the affected-component lookup, so every
row of every half-merged component is pulled into the local graph and
relabeled. The marker commit supersedes the intent; an intent for an
already-committed batch is ignored.

100 TB argument: per-batch cost is O(batch pairs + affected
component volume). Near-dup clusters are small by nature (and
upstream caps bound degenerate ones), so affected volume tracks batch
size; the full mapping is only ever touched through partition-pruned
reads and bounded partition swaps. Worst case — a batch whose edges
chain every cluster together — degrades to the batch job, not to
wrongness. The q29 parity test replays exactly such a cross-batch
merge.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from . import _state
from ._state import applied_batch, commit_marker

PT_RANGE = 1 << 20  # node ids per mapping partition


def _mapping_path(state_dir: str) -> str:
    return os.path.join(state_dir, "mapping")


def _intent_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_merge_intent.json")


def _heal_labels(state_dir: str, batch_id: int) -> list[int]:
    """Old+new labels from an UNCOMMITTED prior attempt of this batch
    (crash between a partial partition swap and the marker commit) —
    fold them into the affected-component lookup so half-relabeled
    components are fully pulled in and re-merged."""
    path = _intent_path(state_dir)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        intent = json.load(f)
    if int(intent.get("batch_id", -1)) != batch_id:
        return []
    return [int(x) for pair in intent["merges"] for x in pair]


def _pt(col):
    # RANGE partitioning on the node id, not hash partitioning: doc
    # ids are crawl-assigned and ascending, so a micro-batch's new
    # nodes cluster in one or two id ranges — the rewrite then touches
    # those partitions plus the (few) ranges holding merged older
    # components, instead of every partition every batch. Hash
    # partitioning spread each batch across all partitions, which
    # degraded the bounded-rewrite guarantee to a full-state rewrite
    # (measured: per-batch cost grew ~linearly with state; range
    # partitioning holds it flat — SCALING.md round-6). Partition
    # count grows with corpus/PT_RANGE, which plain parquet
    # directories handle fine.
    return F.floor(col / F.lit(PT_RANGE)).cast("long")


def merge_components_batch(
    pairs_df: DataFrame,
    batch_id: int,
    state_dir: str,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> None:
    """Fold one micro-batch of near-dup pairs into the cluster state."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = pairs_df.sparkSession
    os.makedirs(state_dir, exist_ok=True)
    mpath = _mapping_path(state_dir)

    new_edges = pairs_df.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).distinct()
    if new_edges.rdd.isEmpty():
        commit_marker(state_dir, batch_id)
        return
    batch_nodes = (
        new_edges.select(F.col("a").alias("node"))
        .union(new_edges.select(F.col("b").alias("node")))
        .distinct()
    )

    m = _state.read(spark, mpath, "pt")
    if m is not None:
        # the batch's nodes can only live in their own id-range
        # partitions — prune the first lookup pass to those (the
        # affected-rows pass below still scans, as a component's
        # members may sit in any range)
        node_pts = [
            int(r["p"])
            for r in batch_nodes.select(_pt(F.col("node")).alias("p"))
            .distinct()
            .collect()
        ]
        touched_comps = (
            m.filter(F.col("pt").isin(node_pts))
            .join(batch_nodes, "node")
            .select("component")
            .distinct()
        )
        heal = _heal_labels(state_dir, batch_id)
        if heal:
            touched_comps = touched_comps.union(
                spark.createDataFrame([(x,) for x in heal], "component long")
            ).distinct()
        affected = m.join(F.broadcast(touched_comps), "component").select(
            "node", "component"
        ).cache()
        graph = new_edges.unionByName(
            affected.select(
                F.col("node").alias("a"), F.col("component").alias("b")
            )
        )
    else:
        m = None
        affected = None
        graph = new_edges

    relabeled = connected_components(graph, "a", "b").cache()
    touched = [
        int(r["pt"])
        for r in relabeled.select(_pt(F.col("node")).alias("pt")).distinct().collect()
    ]
    out = relabeled
    if m is not None:
        # a touched partition is replaced wholesale: carry its
        # unchanged rows (nodes of components the batch did not reach)
        carried = (
            m.withColumn("pt", _pt(F.col("node")))
            .filter(F.col("pt").isin(touched))
            .join(relabeled.select("node"), "node", "left_anti")
            .select("node", "component")
        )
        out = relabeled.unionByName(carried)
        # merge-intent WAL before any partition swap: the (old, new)
        # label pairs this fold is about to apply — bounded by the
        # batch's merged components, a driver-side handful
        merges = [
            (int(r["old"]), int(r["new"]))
            for r in affected.alias("o")
            .join(relabeled.alias("n"), "node")
            .filter(F.col("o.component") != F.col("n.component"))
            .select(
                F.col("o.component").alias("old"), F.col("n.component").alias("new")
            )
            .distinct()
            .collect()
        ]
        tmp = _intent_path(state_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": int(batch_id), "merges": merges}, f)
        os.replace(tmp, _intent_path(state_dir))
    _state.fold(
        out.select("node", "component", _pt(F.col("node")).alias("pt")),
        mpath,
        "pt",
        touched,
    )
    relabeled.unpersist()
    if affected is not None:
        affected.unpersist()
    commit_marker(state_dir, batch_id)
    if os.path.exists(_intent_path(state_dir)):
        os.remove(_intent_path(state_dir))


def incremental_components(
    pairs: DataFrame,
    state_dir: str,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    checkpoint: str | None = None,
):
    """Start the cluster-maintenance query; returns the StreamingQuery.
    Restart over existing state requires a checkpoint (``_state.start``)."""
    return _state.start(
        pairs,
        lambda df, bid: merge_components_batch(df, bid, state_dir, src_col, dst_col),
        applied_batch(state_dir),
        checkpoint,
    )


def read_components(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained (node, component) mapping; empty typed frame
    before any pair has arrived."""
    m = _state.read(spark, _mapping_path(state_dir), "pt")
    if m is None:
        return spark.createDataFrame([], "node long, component long")
    return m.select("node", "component")
