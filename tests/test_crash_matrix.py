"""Crash-window matrix for the detector's append-fold protocol.

Round 7 changed the detector's fold from partition swaps to delta
appends guarded by TWO markers (`_appended` after the bucket append,
`_applied_batch` after everything). Each write step is a distinct
crash window; this file kills the fold inside each one and asserts
the replay converges to the never-crashed outcome — the test shape
that caught the round-6 advisory findings, applied proactively to
every new window.

Windows, in fold order (merge_detector_batch):
  W1  after the pairs append            → replay re-appends pairs
      (distinct'd at read), state untouched
  W2  after the tombs append            → replay re-appends tomb keys
      (distinct'd at read)
  W3  after the bucket append, BEFORE `_appended`
      → the documented residual window: replay re-appends one batch's
        rows; pairs stay correct, compact_state purges the dups
  W4  after `_appended`, BEFORE the commit marker
      → replay recomputes pairs/tombs but SKIPS the bucket append
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_assignment_spark.streaming import _detector, _state
from flink_assignment_spark.streaming.simhash_stream import (
    merge_simhash_batch,
    read_verified_pairs,
)

DOCS = "doc_id long, text string"
CAP = 3


def _docs(spark, ids, text="same text body repeated here"):
    return spark.createDataFrame([(i, text) for i in ids], DOCS)


def _pairs(spark, state):
    return {tuple(r) for r in read_verified_pairs(spark, state).collect()}


def _buckets(spark, state):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(state, "buckets")
        ).collect()
    )


def _run_to_completion(spark, state, tmp_path, with_cap):
    """Reference outcome: two batches folded with no crash."""
    merge_simhash_batch(_docs(spark, range(3)), 0, state,
                        max_state_bucket=CAP if with_cap else None)
    merge_simhash_batch(_docs(spark, range(10, 13)), 1, state,
                        max_state_bucket=CAP if with_cap else None)
    return _pairs(spark, state), _buckets(spark, state)


@pytest.mark.parametrize("crash_after_appends,with_cap", [
    (1, False),  # W1: pairs appended, bucket append never ran
    (2, True),   # W2: pairs + tombs appended (cap makes batch 1 cross)
    (2, False),  # W3: pairs + buckets appended, _appended not yet set
])
def test_crash_after_nth_append_converges(
    spark, tmp_path, monkeypatch, crash_after_appends, with_cap
):
    want_pairs, want_buckets = _run_to_completion(
        spark, str(tmp_path / "ref"), tmp_path, with_cap
    )

    state = str(tmp_path / "st")
    cap = CAP if with_cap else None
    merge_simhash_batch(_docs(spark, range(3)), 0, state, max_state_bucket=cap)

    calls = {"n": 0}
    real_append = _state.append

    def crashing_append(out, table, part_col=None):
        real_append(out, table, part_col)
        calls["n"] += 1
        if calls["n"] == crash_after_appends:
            raise RuntimeError("simulated crash after append")

    monkeypatch.setattr(_state, "append", crashing_append)
    with pytest.raises(RuntimeError):
        merge_simhash_batch(_docs(spark, range(10, 13)), 1, state,
                            max_state_bucket=cap)
    monkeypatch.setattr(_state, "append", real_append)

    merge_simhash_batch(_docs(spark, range(10, 13)), 1, state,
                        max_state_bucket=cap)  # redelivery
    assert _pairs(spark, state) == want_pairs
    if crash_after_appends == 2 and not with_cap:
        # W3: the one window that may duplicate state rows — pairs are
        # already right; compaction restores byte-equality
        _detector.compact_state(spark, state, ["blk", "val"], "fp")
    assert _buckets(spark, state) == want_buckets


def test_crash_between_appended_mark_and_marker(spark, tmp_path, monkeypatch):
    """W4: `_appended` set, commit marker missing → the replay must
    NOT re-append the bucket delta (no duplicate state), while pairs
    re-append harmlessly."""
    want_pairs, want_buckets = _run_to_completion(
        spark, str(tmp_path / "ref"), tmp_path, False
    )
    state = str(tmp_path / "st")
    merge_simhash_batch(_docs(spark, range(3)), 0, state)

    real_commit = _detector.commit_marker

    def no_commit(state_dir, batch_id):
        raise RuntimeError("simulated crash before marker")

    monkeypatch.setattr(_detector, "commit_marker", no_commit)
    with pytest.raises(RuntimeError):
        merge_simhash_batch(_docs(spark, range(10, 13)), 1, state)
    monkeypatch.setattr(_detector, "commit_marker", real_commit)
    assert _detector._appended_batch(state) == 1  # the mark landed

    merge_simhash_batch(_docs(spark, range(10, 13)), 1, state)  # redelivery
    assert _pairs(spark, state) == want_pairs
    assert _buckets(spark, state) == want_buckets  # no dup rows, no compaction needed


def test_mixture_crash_between_kept_append_and_counts_swap(
    spark, tmp_path, monkeypatch
):
    """Mixture's window: kept rows appended, counts swap (and marker)
    never ran. The replay re-derives identical rates from the same
    pre-fold counts, so the re-appended kept rows are byte-identical
    duplicates that read_kept_mixture drops by key — the documented
    contract, pinned here with an injected crash."""
    import flink_assignment_spark.streaming.mixture_stream as ms
    from flink_assignment_spark.streaming.mixture_stream import (
        merge_mixture_batch,
        read_kept_mixture,
        read_mixture_counts,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(60)], "doc_id long, lang string"
    )
    weights = {"en": 0.5, "de": 0.5}

    ref = str(tmp_path / "ref")
    merge_mixture_batch(docs, 0, ref, weights)
    want_kept = {tuple(r) for r in read_kept_mixture(spark, ref).collect()}
    want_counts = {tuple(r) for r in read_mixture_counts(spark, ref).collect()}

    st = str(tmp_path / "st")
    # the swap lives inside _state.replace, so the crash is injected on
    # the store module's os.rename
    real_swap = _state.os.rename
    calls = {"armed": True}

    def crash_on_first_rename(src, dst):
        if calls["armed"] and src.endswith(".staging"):
            calls["armed"] = False
            raise RuntimeError("crash before counts swap")
        return real_swap(src, dst)

    monkeypatch.setattr(_state.os, "rename", crash_on_first_rename)
    with pytest.raises(RuntimeError):
        merge_mixture_batch(docs, 0, st, weights)
    monkeypatch.setattr(_state.os, "rename", real_swap)

    merge_mixture_batch(docs, 0, st, weights)  # redelivery
    assert {tuple(r) for r in read_kept_mixture(spark, st).collect()} == want_kept
    assert {tuple(r) for r in read_mixture_counts(spark, st).collect()} == want_counts


def test_novelty_crash_between_fold_and_stats(spark, tmp_path, monkeypatch):
    """Novelty's window: seen-shingle buckets folded, stats append and
    marker never ran. Replay re-scores against the already-merged
    state (its own shingles now look old), so the duplicate batch_id
    stats row UNDER-counts — read_novelty_stats resolves to the
    max-n_new row, which is the correct first-attempt value. The seen
    state itself is a set union and converges exactly."""
    from flink_assignment_spark.streaming.novelty_stream import (
        merge_novelty_batch,
        read_novelty_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} x{i} y{i}") for i in range(5)],
        "doc_id long, text string",
    )
    ref = str(tmp_path / "ref")
    merge_novelty_batch(docs, 0, ref)
    want = [
        (r.batch_id, r.n_shingles, r.n_new)
        for r in read_novelty_stats(spark, ref).collect()
    ]

    st = str(tmp_path / "st")
    real_append = _state.append

    def crash_on_stats(out, table, part_col=None):
        if table.endswith("stats"):
            raise RuntimeError("crash before stats append")
        return real_append(out, table, part_col)

    monkeypatch.setattr(_state, "append", crash_on_stats)
    with pytest.raises(RuntimeError):
        merge_novelty_batch(docs, 0, st)
    monkeypatch.setattr(_state, "append", real_append)

    merge_novelty_batch(docs, 0, st)  # redelivery: n_new under-counts...
    got = [
        (r.batch_id, r.n_shingles, r.n_new)
        for r in read_novelty_stats(spark, st).collect()
    ]
    # ...but the max-n_new resolution yields the first-attempt values?
    # No first row ever landed here, so the replay's under-count IS the
    # recorded row — the documented residual: stats may under-count one
    # batch while the state stays exact. Pin exactly that.
    assert got[0][0] == 0 and got[0][1] == want[0][1]
    assert got[0][2] == 0  # own shingles already merged -> nothing new


HIGH_CAP = 5


@pytest.mark.parametrize("window", ["W3", "W4"])
def test_cap_enabled_replay_does_not_spuriously_saturate(
    spark, tmp_path, monkeypatch, window
):
    """r7 ADVICE (medium): on an at-least-once replay AFTER the bucket
    delta already landed (W3: before `_appended`; W4: before the
    commit marker), the batch's members sit in BOTH the live state and
    the fold rows. The old count(*) saturation sum counted them twice,
    tombstoning any bucket whose true size exceeds ~cap/2 — and
    saturation is sticky, so the bucket silently stopped emitting
    forever. The countDistinct(doc_id) fold must keep a bucket whose
    TRUE size is under the cap alive through the replay."""
    ref = str(tmp_path / "ref")
    merge_simhash_batch(_docs(spark, range(2)), 0, ref, max_state_bucket=HIGH_CAP)
    merge_simhash_batch(
        _docs(spark, range(10, 12)), 1, ref, max_state_bucket=HIGH_CAP
    )
    want_pairs, want_buckets = _pairs(spark, ref), _buckets(spark, ref)
    # true bucket size is 4 ≤ cap: the clean run must not saturate
    assert not os.path.exists(os.path.join(ref, "tombs"))

    state = str(tmp_path / "st")
    merge_simhash_batch(_docs(spark, range(2)), 0, state, max_state_bucket=HIGH_CAP)

    if window == "W3":
        real_append = _state.append

        def crash_after_bucket_append(out, table, part_col=None):
            real_append(out, table, part_col)
            if table.endswith("buckets"):
                raise RuntimeError("simulated crash after bucket append")

        monkeypatch.setattr(_state, "append", crash_after_bucket_append)
        with pytest.raises(RuntimeError):
            merge_simhash_batch(
                _docs(spark, range(10, 12)), 1, state, max_state_bucket=HIGH_CAP
            )
        monkeypatch.setattr(_state, "append", real_append)
        # the mark never advanced past batch 0 — batch 1's delta is
        # appended but unmarked, so the replay will re-append it
        assert _detector._appended_batch(state) == 0
    else:  # W4
        real_commit = _detector.commit_marker

        def no_commit(state_dir, batch_id):
            raise RuntimeError("simulated crash before marker")

        monkeypatch.setattr(_detector, "commit_marker", no_commit)
        with pytest.raises(RuntimeError):
            merge_simhash_batch(
                _docs(spark, range(10, 12)), 1, state, max_state_bucket=HIGH_CAP
            )
        monkeypatch.setattr(_detector, "commit_marker", real_commit)
        assert _detector._appended_batch(state) == 1  # the mark landed

    merge_simhash_batch(
        _docs(spark, range(10, 12)), 1, state, max_state_bucket=HIGH_CAP
    )  # redelivery
    # the replay must NOT have minted a tombstone for the healthy bucket
    assert not os.path.exists(os.path.join(state, "tombs"))
    assert _pairs(spark, state) == want_pairs
    if window == "W3":
        # W3 re-appends the batch's delta; compaction restores byte-equality
        _detector.compact_state(spark, state, ["blk", "val"], "fp")
    assert _buckets(spark, state) == want_buckets
