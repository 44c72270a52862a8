"""Streaming decayed-activity maintenance == batch q139 exactly
(double ==, not tolerance — the dyadic kernel is fold-order-free);
compaction pins the read answer while bounding state; replays cannot
double-count; uncheckpointed restarts are refused."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_assignment_spark.queries.synthetic import DECAY_ASOF, REGISTRY
from flink_assignment_spark.sources.loaders import load_table
from flink_assignment_spark.streaming.decay_stream import (
    compact_decay,
    merge_decay_batch,
    read_decay,
)

from .conftest import SF_DIR

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _replay(spark, state_dir, n_batches=3):
    ev = load_table(spark, SF_DIR, "events").orderBy("ts", "event_id").collect()
    per = (len(ev) + n_batches - 1) // n_batches
    for b in range(n_batches):
        chunk = ev[b * per : (b + 1) * per]
        if chunk:
            merge_decay_batch(
                spark.createDataFrame(chunk, SCHEMA), b, str(state_dir)
            )


def _batch_rows(spark):
    return {
        (r.user_id, r.decay_score, r.n_events)
        for r in REGISTRY["q139_decay_activity"].spark(spark, SF_DIR).collect()
    }


def _stream_rows(spark, state_dir, asof=DECAY_ASOF):
    return {
        (r.user_id, r.decay_score, r.n_events)
        for r in read_decay(spark, str(state_dir), asof).collect()
    }


def test_decay_stream_matches_batch_exactly(spark, tmp_path):
    state = tmp_path / "decay"
    _replay(spark, state)
    assert _stream_rows(spark, state) == _batch_rows(spark)


def test_decay_compaction_pins_read_and_bounds_state(spark, tmp_path):
    from flink_assignment_spark.streaming import _state
    from flink_assignment_spark.streaming.decay_stream import _counts_path

    state = tmp_path / "decay"
    _replay(spark, state)
    before = _stream_rows(spark, state)
    # horizon = asof: every day older than asof-KCAP folds to the
    # sentinel; any read with asof >= horizon is unchanged
    compact_decay(spark, str(state), DECAY_ASOF)
    assert _stream_rows(spark, state) == before
    counts = _state.read(spark, _counts_path(str(state)), "bucket")
    per_user = counts.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    from flink_assignment_spark.operators.decay_score import DECAY_KCAP

    assert per_user <= DECAY_KCAP + 2  # live days + one sentinel


def test_decay_marker_skips_redelivery(spark, tmp_path):
    state = tmp_path / "decay"
    _replay(spark, state, n_batches=3)
    before = _stream_rows(spark, state)
    ev = load_table(spark, SF_DIR, "events").limit(20).collect()
    merge_decay_batch(spark.createDataFrame(ev, SCHEMA), 1, str(state))
    assert _stream_rows(spark, state) == before


def test_decay_crash_window_cannot_double_count(spark, tmp_path):
    """Replaying a batch whose fold ALREADY landed (crash after the
    swap, before the marker) must not re-add its counts: the per-user
    as_of_batch guard drops the batch's contribution."""
    state = tmp_path / "decay"
    ev = load_table(spark, SF_DIR, "events").orderBy("ts", "event_id").collect()
    half = len(ev) // 2
    merge_decay_batch(spark.createDataFrame(ev[:half], SCHEMA), 0, str(state))
    before = _stream_rows(spark, state)
    # simulate the crash window: delete the marker, then redeliver
    os.remove(os.path.join(str(state), "_applied_batch"))
    merge_decay_batch(spark.createDataFrame(ev[:half], SCHEMA), 0, str(state))
    assert _stream_rows(spark, state) == before


def test_decay_uncheckpointed_restart_refused(spark, tmp_path):
    import pytest

    from flink_assignment_spark.streaming._state import commit_marker
    from flink_assignment_spark.streaming.decay_stream import incremental_decay

    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir, exist_ok=True)
    commit_marker(state_dir, 2)
    dummy = spark.createDataFrame([], SCHEMA)
    with pytest.raises(ValueError, match="applied-batch"):
        incremental_decay(dummy, state_dir)
