"""Crash, replay and parity contracts of the streaming sinks on the
shared state store: the dedup (keeper-table apply + LSH detector),
ssjoin, binpack, retention and generalize streams run their
batch-parity, crash-window, and restart-refusal checks against
``_state``'s one store (per-partition-atomic folds, whole-table
atomic replace).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_assignment_spark.streaming._state import commit_marker

DOCS = "doc_id long, text string"


def _corpus():
    """Small corpus with exact dups, near dups, and singletons."""
    return [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog tonight"),  # near dup
        (4, "a completely different document about spark engines"),
        (5, "yet another unrelated text body with many words here"),
        (6, "a completely different document about spark engines"),  # exact dup of 4
    ]


# ------------------------------------------------------------- dedup apply
def test_dedup_apply_parity_and_replay(spark, tmp_path):
    """Keeper table == one-shot batch dedup regardless of batching;
    a redelivered batch id is skipped (n_dups not double-added) —
    through the store's replace/meta path."""
    from flink_assignment_spark.streaming.dedup_apply import (
        merge_dedup_groups,
        read_kept,
    )

    rows = _corpus()
    table = str(tmp_path / "kept")
    merge_dedup_groups(spark.createDataFrame(rows[:3], DOCS), table, batch_id=0)
    merge_dedup_groups(spark.createDataFrame(rows[3:], DOCS), table, batch_id=1)
    # full redelivery of batch 1: marker no-op, n_dups unchanged
    merge_dedup_groups(spark.createDataFrame(rows[3:], DOCS), table, batch_id=1)
    got = {
        (r.doc_id, r.n_dups)
        for r in read_kept(spark, table).collect()
    }
    assert got == {(1, 2), (3, 1), (4, 2), (5, 1)}


# ------------------------------------------------------- LSH dedup detector
def test_lsh_detector_crash_window_converges(spark, tmp_path):
    """Detector fold replay after a lost marker converges to the
    never-crashed pair set."""
    from flink_assignment_spark.streaming.lsh_stream import (
        merge_lsh_batch,
        read_candidate_pairs,
    )

    rows = _corpus()

    def pairs(state):
        return {
            (r.doc_a, r.doc_b)
            for r in read_candidate_pairs(spark, str(state)).collect()
        }

    ref = tmp_path / "ref"
    merge_lsh_batch(spark.createDataFrame(rows[:3], DOCS), 0, str(ref))
    merge_lsh_batch(spark.createDataFrame(rows[3:], DOCS), 1, str(ref))
    want = pairs(ref)
    assert (1, 2) in want  # the exact dup must collide

    crash = tmp_path / "crash"
    merge_lsh_batch(spark.createDataFrame(rows[:3], DOCS), 0, str(crash))
    os.remove(os.path.join(str(crash), "_applied_batch"))
    merge_lsh_batch(spark.createDataFrame(rows[:3], DOCS), 0, str(crash))
    merge_lsh_batch(spark.createDataFrame(rows[3:], DOCS), 1, str(crash))
    assert pairs(crash) == want


# ------------------------------------------------------------------ ssjoin
def test_ssjoin_internal_pair_crash_replay(spark, tmp_path):
    """The r15 triple-count crash window (batch holding BOTH pair
    members, replayed after the postings append): exact pair set —
    jaccard values included."""
    from flink_assignment_spark.streaming.ssjoin_stream import (
        merge_ssjoin_batch,
        read_ssjoin_pairs,
    )

    b0 = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
    ]

    def pairs(state):
        return {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in read_ssjoin_pairs(spark, str(state)).collect()
        }

    ref = tmp_path / "ref"
    merge_ssjoin_batch(spark.createDataFrame(b0, DOCS), 0, str(ref), 0.5)
    want = pairs(ref)
    assert any(p[:2] == (1, 2) for p in want)

    state = tmp_path / "crash"
    merge_ssjoin_batch(spark.createDataFrame(b0, DOCS), 0, str(state), 0.5)
    os.remove(os.path.join(str(state), "_applied_batch"))
    merge_ssjoin_batch(spark.createDataFrame(b0, DOCS), 0, str(state), 0.5)
    assert pairs(state) == want


# ----------------------------------------------------------------- binpack
def test_binpack_crash_replay_and_invariants(spark, tmp_path):
    """Online packer: crash-window replay converges, budget ceiling
    holds."""
    from flink_assignment_spark.streaming.binpack_stream import (
        merge_binpack_batch,
        read_assignments,
    )

    rows = _corpus()
    budget = 12

    def assigns(state):
        return {
            (r.doc_id, r.n_tokens, r.bin_id, r.overflow)
            for r in read_assignments(spark, str(state)).collect()
        }

    ref = tmp_path / "ref"
    merge_binpack_batch(spark.createDataFrame(rows[:3], DOCS), 0, str(ref), budget)
    merge_binpack_batch(spark.createDataFrame(rows[3:], DOCS), 1, str(ref), budget)
    want = assigns(ref)

    crash = tmp_path / "crash"
    merge_binpack_batch(spark.createDataFrame(rows[:3], DOCS), 0, str(crash), budget)
    merge_binpack_batch(spark.createDataFrame(rows[3:], DOCS), 1, str(crash), budget)
    os.remove(os.path.join(str(crash), "_applied_batch"))
    merge_binpack_batch(spark.createDataFrame(rows[3:], DOCS), 1, str(crash), budget)
    got = assigns(crash)
    assert got == want
    # ceiling: per-bin token sums within budget for non-overflow bins
    per_bin = (
        read_assignments(spark, str(crash))
        .filter(~F.col("overflow"))
        .groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("n"))
    )
    assert per_bin.filter(F.col("n") > budget).count() == 0


# ------------------------------------------------------- restart refusal
def test_restart_refusal(spark, tmp_path):
    """The uncheckpointed-restart guard fires for both sinks (the
    marker is part of the shared state protocol)."""
    from flink_assignment_spark.streaming.binpack_stream import incremental_binpack
    from flink_assignment_spark.streaming.ssjoin_stream import incremental_ssjoin

    for name, start in (
        ("ssj", lambda d, st: incremental_ssjoin(d, st, 0.5)),
        ("bp", lambda d, st: incremental_binpack(d, st, 64)),
    ):
        state = str(tmp_path / name)
        os.makedirs(state, exist_ok=True)
        commit_marker(state, 2)
        dummy = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )
        with pytest.raises(ValueError, match="applied-batch"):
            start(dummy, state)


# --------------------------------------------------------------- retention
def test_retention_parity_and_crash(spark, tmp_path):
    """The round-16 retention fold: parity with a never-crashed run
    after a lost-marker replay."""
    from datetime import datetime, timedelta

    from flink_assignment_spark.streaming.retention_stream import (
        merge_retention_batch,
        read_retention,
    )

    def ts(week):
        return datetime(1970, 1, 5) + timedelta(days=7 * week)

    rows = [(ts(w), u) for u in range(6) for w in (u % 3, u % 3 + 2)]
    ev = "ts timestamp, user_id long"

    def table(state):
        return {
            (r.cohort, r.weeks_since, r.n_active, r.cohort_size)
            for r in read_retention(spark, str(state)).collect()
        }

    ref = tmp_path / "ref"
    merge_retention_batch(spark.createDataFrame(rows[:6], ev), 0, str(ref))
    merge_retention_batch(spark.createDataFrame(rows[6:], ev), 1, str(ref))
    want = table(ref)

    crash = tmp_path / "crash"
    merge_retention_batch(spark.createDataFrame(rows[:6], ev), 0, str(crash))
    merge_retention_batch(spark.createDataFrame(rows[6:], ev), 1, str(crash))
    os.remove(os.path.join(str(crash), "_applied_batch"))
    merge_retention_batch(spark.createDataFrame(rows[6:], ev), 1, str(crash))
    assert table(crash) == want


# -------------------------------------------------------------- generalize
def test_generalize_gate_crash(spark, tmp_path):
    """The generalize-then-release gate's crash replay converges
    (released dedup by id, open dedup at read, pending purge)."""
    from flink_assignment_spark.streaming.generalize_stream import (
        merge_generalize_batch,
        read_pending,
        read_released,
    )

    levels = [{}, {"band": F.floor(F.col("v") / 2).cast("long")}]
    rows = [(1, 0, 0), (2, 0, 0), (3, 5, 5)]
    schema = "rid long, band long, v long"

    def released(state):
        return {
            (r.rid, r.gen_level)
            for r in read_released(spark, str(state), "rid").collect()
        }

    ref = tmp_path / "ref"
    merge_generalize_batch(
        spark.createDataFrame(rows, schema), 0, str(ref), ["band"], levels, 2,
        "rid",
    )
    want = released(ref)
    assert want == {(1, 0), (2, 0)}

    crash = tmp_path / "crash"
    merge_generalize_batch(
        spark.createDataFrame(rows, schema), 0, str(crash), ["band"], levels, 2,
        "rid",
    )
    os.remove(os.path.join(str(crash), "_applied_batch"))
    merge_generalize_batch(
        spark.createDataFrame(rows, schema), 0, str(crash), ["band"], levels, 2,
        "rid",
    )
    assert released(crash) == want
    p_ref = read_pending(spark, str(crash))
    assert {r.rid for r in p_ref.collect()} == {3}
