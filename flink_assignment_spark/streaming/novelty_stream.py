"""Incremental corpus-novelty tracking — the streaming twin of q78.

A crawl pipeline's stop condition is the novelty curve: what fraction
of each arriving batch's shingles has the corpus never seen? This
module maintains two tables under a ``foreachBatch`` sink:

- ``seen/`` — every distinct shingle hash observed so far,
  HASH-BUCKET-PARTITIONED (``bucket = h % n_buckets`` directories).
  Per micro-batch only the buckets that actually receive new shingles
  are rewritten, through the shared store's
  ``streaming._state.fold`` (staging-write + per-partition directory
  swap) — a real incremental upsert shape on plain parquet (the
  production form is a Delta/Iceberg ``MERGE INTO`` — see the contract
  in ``_state``'s module docstring; the bucket count is the knob that
  bounds per-batch rewrite volume at corpus scale). Single-writer assumption: one query owns ``state_dir``.
- ``stats/`` — one appended row per micro-batch:
  ``(batch_id, n_docs, n_shingles, n_new, novelty_rate)``.

Novelty semantics match batch q78 exactly when batches replay in
id order: a shingle is NEW iff no earlier-arriving doc contained it
(q78's min-doc-id first-occurrence rule under the in-order replay
contract shared with the other streaming operators) — pinned by
tests/test_streaming_novelty.py against the q78 oracle query.

Replay semantics (foreachBatch is at-least-once): the order per batch
is swap buckets → append stats → commit the ``_applied_batch``
marker. A fully-applied redelivered batch is skipped via the marker;
a redelivery that raced the stats append produces a duplicate
``batch_id`` row which ``read_novelty_stats`` resolves by keeping the
max-``n_new`` row (a replay can only UNDER-count novelty, because its
own shingles are already in the state). The seen state itself always
converges — re-merging a batch's shingles is idempotent by
construction (set union). The residual imperfection on plain FS is a
crash in the middle of the multi-bucket swap, which can under-count
that single batch's stats row while leaving the state correct; a
transactional table format (Delta/Iceberg) closes it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.gates import shingle_hash_array
from . import _state
from ._state import applied_batch, commit_marker

N_BUCKETS = 64


def _seen_path(state_dir: str) -> str:
    return os.path.join(state_dir, "seen")


def _stats_path(state_dir: str) -> str:
    return os.path.join(state_dir, "stats")


def merge_novelty_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Score one micro-batch against the seen-shingle state, fold its
    new shingles into the state (touched buckets only), then append
    the stats row and commit the replay marker — see the module
    docstring for the crash/replay contract."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    seen_path, stats_path = _seen_path(state_dir), _stats_path(state_dir)

    sh = (
        batch_df.select(F.explode(shingle_hash_array(F.col(text_col))).alias("h"))
        .distinct()
        .withColumn("bucket", F.pmod(F.col("h"), F.lit(N_BUCKETS)).cast("int"))
    )
    seen = _state.read(spark, seen_path, "bucket")
    if seen is not None:
        # the anti-join carries the bucket equi-key, so at scale it is
        # a partition-pruned, co-partitioned probe (only the buckets
        # this batch touches are read)
        new = sh.join(seen, ["bucket", "h"], "left_anti")
    else:
        new = sh
    new = new.cache()

    n_docs = batch_df.count()
    n_batch = sh.count()
    n_new = new.count()

    if n_new:
        touched = [int(r.bucket) for r in new.select("bucket").distinct().collect()]
        if seen is not None:
            # union the touched buckets' existing rows with the new
            # ones; only those bucket directories will be replaced
            existing = seen.filter(F.col("bucket").isin(touched))
            out = existing.unionByName(new.select("bucket", "h"))
        else:
            out = new.select("bucket", "h")
        # staging write + per-bucket fold
        # (writing into seen_path while `existing` still reads from it
        # would be a silent read-under-overwrite race)
        _state.fold(out.select("h", "bucket"), seen_path, "bucket", touched)
    new.unpersist()

    # stats AFTER the state update, marker last (module docstring)
    stats = spark.createDataFrame(
        [
            (
                int(batch_id),
                int(n_docs),
                int(n_batch),
                int(n_new),
                round(n_new / n_batch, 4) if n_batch else 0.0,
            )
        ],
        "batch_id long, n_docs long, n_shingles long, n_new long, novelty_rate double",
    )
    _state.append(stats.coalesce(1), stats_path, None)
    commit_marker(state_dir, batch_id)


def incremental_novelty(
    docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
):
    """Start the novelty-tracking query; returns the StreamingQuery.
    Restart over existing state requires a checkpoint (``_state.start``)."""
    return _state.start(
        docs,
        lambda df, bid: merge_novelty_batch(df, bid, state_dir, text_col, id_col),
        applied_batch(state_dir),
        checkpoint,
    )


def read_novelty_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """The per-batch novelty curve accumulated so far. Duplicate
    ``batch_id`` rows (an at-least-once replay that raced the marker)
    resolve to the max-``n_new`` row — a replay can only under-count
    its own already-merged shingles."""
    from pyspark.sql import Window as W

    raw = _state.read(spark, _stats_path(state_dir))
    rn = F.row_number().over(
        W.partitionBy("batch_id").orderBy(F.col("n_new").desc())
    )
    return raw.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")
