"""Incremental set-similarity join — the streaming twin of q128
(operators/dedup.prefix_filter_jaccard_pairs).

A corpus ingested live must surface word-n-gram near-duplicates the
moment the SECOND member of a pair lands: each arriving document's
shingle set joins the corpus-so-far's UNCAPPED shingle postings (the
same index one batch shingling pass feeds) plus its own micro-batch,
and every pair with exact Jaccard >= threshold is emitted once. State
under ``foreachBatch``:

- ``postings/`` — the uncapped inverted index ``(bucket, h, doc_id,
  ns)``, one row per (doc, distinct shingle), hash-bucket-partitioned
  on the shingle hash. INSERT-ONLY (a document's shingle set never
  changes), so the fold is a pure delta-append — O(batch) per
  micro-batch regardless of index size, the linkage-stream shape
  (``compact_postings`` is the out-of-band OPTIMIZE).
- ``pairs/`` — appended match rows ``(doc_a, doc_b, jaccard,
  batch_id)`` with doc_a < doc_b.

Per batch: shingle the batch once (``doc_shingles`` — distinct
shingles per doc, hashed); candidates and intersection sizes come from
ONE shared-shingle equi-join per side (batch×state pruned to the
touched buckets, batch×batch), grouped per pair — ``count(*)`` over
the join IS the exact intersection (both sides are distinct-per-doc),
so ``J = common / (na + nb - common)`` equals the batch operator's
``array_intersect`` verify value exactly, and an in-order replay
reproduces q128's pair set row-for-row (pinned by
tests/test_streaming_ssjoin.py).

Exactness vs plan shape: the BATCH operator's prefix filter is a
candidate-pruning strategy under a frozen global document-frequency
order — an order a growing stream cannot freeze without losing the
lossless lemma. The streaming twin therefore probes FULL postings
(exact by construction, zero recall loss, order-independent pair set)
and pays posting-list fan-out instead of prefix pruning: per-batch
cost is O(batch postings × colliding state postings). Hot boilerplate
shingles are the known exposure — at corpus scale, route them through
the capped detector (streaming/_detector.py saturation valve) or
compact + re-shard; the exact twin keeps the reported Jaccard
untouched, which is the property q128 exists to guarantee.

Replay (foreachBatch is at-least-once): pairs-append → postings-append
→ marker, the linkage contract: a fully-applied redelivery is skipped
by the marker; a replay that raced the crash re-derives the SAME pairs
and ``read_ssjoin_pairs`` drops duplicates by (doc_a, doc_b). The
state probe is STRICTLY cross-batch (the batch's own doc ids are
anti-joined out of ``seen``), so even when the crash fell after the
postings append — i.e. the replayed batch's own shingles are already
in state — batch-internal pairs are derived exactly once, from
``internal``; without that fence they would also match ``cross`` in
both directions and the shared groupBy would count common three times
(pinned by tests/test_streaming_ssjoin.py's two-doc crash-window
test).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import doc_shingles
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 64


def _postings_path(state_dir: str) -> str:
    return os.path.join(state_dir, "postings")


def _pairs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "pairs")


def _pair_jaccard(joined: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, na, nb) shared-shingle rows → exact-Jaccard
    pairs at/above threshold. count(*) is the intersection size
    because each side carries one row per DISTINCT shingle per doc."""
    agg = joined.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count("*").alias("common")
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return (
        agg.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def merge_ssjoin_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Match one micro-batch against itself and the postings index,
    then extend the index — see the module docstring for the
    crash/replay contract."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    post_path, pairs_path = _postings_path(state_dir), _pairs_path(state_dir)

    sh = (
        doc_shingles(batch_df, text_col, id_col, n)
        .withColumn("bucket", F.pmod(F.col("h"), F.lit(N_BUCKETS)).cast("int"))
        .cache()
    )
    # ONE action materializes the batch index AND fetches the touched
    # buckets (bounded: <= N_BUCKETS rows) — the former count() +
    # separate distinct().collect() paid two jobs per batch for one
    # answer (r17; the BPE-trainer one-action-per-round discipline)
    touched = [int(r.bucket) for r in sh.select("bucket").distinct().collect()]
    if not touched:
        sh.unpersist()
        commit_marker(state_dir, batch_id)
        return

    # batch-internal pairs (both docs new this batch)
    a, b = sh.alias("a"), sh.alias("b")
    internal = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n_shingles").alias("na"),
        F.col("b.n_shingles").alias("nb"),
    )
    state = _state.read(spark, post_path, "bucket")
    if state is not None:
        # PROBE-SIDE DEDUP is load-bearing, not hygiene: a replayed
        # batch whose crash fell between the postings append and the
        # marker leaves duplicate (h, doc) rows, and the pair kernel
        # COUNTS join rows — duplicates would inflate `common` and
        # corrupt every future Jaccard against that doc until the
        # out-of-band compaction ran. (The linkage stream tolerates
        # duplicates because its reader drops pair duplicates; here
        # the count itself must be exact.) Cost is bounded by the
        # touched-bucket slice, not the index.
        seen = state.filter(F.col("bucket").isin(touched)).dropDuplicates(
            ["h", "doc_id"]
        )
        # STRICTLY CROSS-BATCH: a replay whose crash fell AFTER the
        # postings append sees the batch's own docs in state; letting
        # them through would re-derive each batch-internal pair from
        # `cross` in BOTH directions on top of `internal` — the three
        # share one groupBy, so common would be 3c and the Jaccard
        # inflated (denominator na+nb-3c can even go <= 0). Anti-join
        # the batch's own ids out so `internal` is the only source of
        # same-batch pairs under any crash window.
        seen = seen.join(
            sh.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        # cross-batch: order the pair by id, not by arrival
        cross = sh.alias("n").join(
            seen.alias("s"),
            (F.col("n.h") == F.col("s.h"))
            & (F.col("n.doc_id") != F.col("s.doc_id")),
        ).select(
            F.least("n.doc_id", "s.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "s.doc_id").alias("doc_b"),
            F.when(F.col("n.doc_id") < F.col("s.doc_id"), F.col("n.n_shingles"))
            .otherwise(F.col("s.ns"))
            .alias("na"),
            F.when(F.col("n.doc_id") < F.col("s.doc_id"), F.col("s.ns"))
            .otherwise(F.col("n.n_shingles"))
            .alias("nb"),
        )
        cand = internal.unionByName(cross)
    else:
        cand = internal

    pairs = _pair_jaccard(cand, threshold).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("bigint")
    )
    _state.append(pairs.coalesce(8), _pairs_path(state_dir), None)
    # insert-only index ⇒ pure delta-append; repartition first so each
    # touched bucket gains ONE file per batch (the linkage/split shape)
    _state.append(
        sh.select(
            "bucket", "h", "doc_id", F.col("n_shingles").alias("ns")
        ).repartition("bucket"),
        post_path,
        "bucket",
    )
    sh.unpersist()
    commit_marker(state_dir, batch_id)


def read_ssjoin_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All exact-Jaccard pairs found so far — replay duplicates and
    cross-batch rediscoveries dropped by (doc_a, doc_b)."""
    pairs = _state.read(spark, _pairs_path(state_dir))
    if pairs is None:
        raise ValueError(f"no ssjoin state at {state_dir}")
    return pairs.dropDuplicates(["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "jaccard"
    )


def compact_postings(spark: SparkSession, state_dir: str) -> None:
    """Out-of-band OPTIMIZE: rewrite the delta-appended postings index
    as one deduplicated table (replayed appends leave exact row
    duplicates, which only fan the probe into pair rows the reader
    already drops)."""
    path = _postings_path(state_dir)
    cur = _state.read(spark, path, "bucket")
    if cur is None:
        return
    all_buckets = [int(r.bucket) for r in cur.select("bucket").distinct().collect()]
    _state.fold(
        cur.dropDuplicates(["h", "doc_id"]).select("bucket", "h", "doc_id", "ns"),
        path,
        "bucket",
        all_buckets,
    )


def incremental_ssjoin(
    docs: DataFrame,
    state_dir: str,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    checkpoint: str | None = None,
):
    """Start the set-similarity-join query; returns the
    StreamingQuery. The postings fold is insert-only (convergent) but
    NOT reprocessable under reset batch ids, so a restart over
    existing state requires a checkpoint, like linkage/scd2/gapfill.
    """
    return _state.start(
        docs,
        lambda df, bid: merge_ssjoin_batch(
            df, bid, state_dir, threshold, text_col, id_col, n
        ),
        applied_batch(state_dir),
        checkpoint,
    )
