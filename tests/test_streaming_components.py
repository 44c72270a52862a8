"""Incremental connected components: cross-batch cluster merges must
converge to the batch star-contraction labels, replays are no-ops,
and untouched components are never relabeled."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_assignment_spark.operators.components import connected_components
from flink_assignment_spark.operators.dedup import MAX_SHINGLE_DF, ngram_jaccard_pairs
from flink_assignment_spark.sources.loaders import load_table
from flink_assignment_spark.streaming.components_stream import (
    incremental_components,
    merge_components_batch,
    read_components,
)

from .conftest import SF_DIR

PAIRS_SCHEMA = "doc_a long, doc_b long"


def _mapping(spark, state):
    return {
        r["node"]: r["component"] for r in read_components(spark, state).collect()
    }


def test_cross_batch_merge_of_two_existing_clusters(spark, tmp_path):
    """The hard case: a later edge joins two components built in an
    earlier batch — every node of BOTH must relabel to the joint min,
    while an unrelated component stays untouched."""
    state = str(tmp_path / "cc")
    b1 = spark.createDataFrame([(1, 2), (3, 4), (10, 11)], PAIRS_SCHEMA)
    merge_components_batch(b1, 0, state)
    assert _mapping(spark, state) == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10}
    b2 = spark.createDataFrame([(2, 3)], PAIRS_SCHEMA)
    merge_components_batch(b2, 1, state)
    assert _mapping(spark, state) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # replayed batch is a no-op
    merge_components_batch(b2, 1, state)
    assert _mapping(spark, state) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_streamed_components_match_batch_on_real_pairs(spark, tmp_path):
    """Replay the q15-style near-dup pairs of the real corpus in two
    micro-batches; the final mapping must equal batch
    connected_components over all pairs."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.3, max_doc_freq=MAX_SHINGLE_DF
    ).select("doc_a", "doc_b").cache()
    assert pairs.count() > 0
    mid = pairs.approxQuantile("doc_a", [0.5], 0.0)[0]
    d = tmp_path / "pairs"
    d.mkdir()
    pairs.filter(F.col("doc_a") <= mid).coalesce(1).write.parquet(str(d / "b0"))
    pairs.filter(F.col("doc_a") > mid).coalesce(1).write.parquet(str(d / "b1"))
    state = str(tmp_path / "cc")
    stream = (
        spark.readStream.schema(PAIRS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    q = incremental_components(stream, state)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _mapping(spark, state)
    want = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == want and len(want) > 0
    pairs.unpersist()


def test_crash_mid_swap_heals_stale_labels(spark, tmp_path, monkeypatch):
    """Round-6 advisory (medium): a crash between partition swaps can
    leave a merged component half-relabeled — here node 5M's own row
    is already updated to the new label 1 while 9M (a different
    id-range partition) still carries the stale label 5M, which is no
    longer a root. A replay that only looks up the batch nodes'
    labels never reaches 9M; the merge-intent WAL written before the
    swap must pull the old label's rows back in and re-merge them."""
    import flink_assignment_spark.streaming.components_stream as cs

    m = 5_000_000  # pt 4
    n = 9_000_000  # pt 8 — a different PT_RANGE partition
    state = str(tmp_path / "cc")
    merge_components_batch(
        spark.createDataFrame([(m, n)], PAIRS_SCHEMA), 0, state
    )
    assert _mapping(spark, state) == {m: m, n: m}

    from flink_assignment_spark.streaming import _state

    stale_pt = n // cs.PT_RANGE
    real_fold = _state.fold

    def partial_fold(out, path, part_col, touched):
        # simulate a crash AFTER a prefix of the partition swaps: the
        # stale partition's directory keeps its old contents (drop it
        # from out AND touched — the fold contract requires out ⊆
        # touched, matching what a real mid-swap crash leaves behind)
        real_fold(
            out.filter(F.col(part_col) != stale_pt),
            path,
            part_col,
            [p for p in touched if p != stale_pt],
        )
        raise RuntimeError("simulated crash mid-swap")

    monkeypatch.setattr(_state, "fold", partial_fold)
    b1 = spark.createDataFrame([(1, m)], PAIRS_SCHEMA)
    try:
        merge_components_batch(b1, 1, state)
        raise AssertionError("crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(_state, "fold", real_fold)
    # the half-applied state: 1 and m relabeled, n stranded on label m
    assert _mapping(spark, state) == {1: 1, m: 1, n: m}

    merge_components_batch(b1, 1, state)  # redelivery
    assert _mapping(spark, state) == {1: 1, m: 1, n: 1}
