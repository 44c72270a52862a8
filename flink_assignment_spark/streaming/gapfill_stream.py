"""Incremental time-bucket gap fill with LOCF — the streaming twin of
q126 (operators/timeseries.gapfill_locf).

A live metrics pipeline emits the DENSE per-key bucket series as
events land: when a batch carries a key's next observation, every
empty bucket between the key's last emitted bucket and the new
observation is emitted as a filled (carried-forward) row first. State
under ``foreachBatch``:

- ``last/`` — one row per key: ``(bucket, key, last_bucket,
  last_value, as_of_batch)`` — the frontier the next batch continues
  from. UPSERT state folded by swapping touched bucket directories
  (same mechanism as the SCD2 stream's open intervals).
- ``filled/`` — append-only emitted rows
  ``(key, bucket_ts, filled_value, is_observed, batch_id)``.

Per batch: reduce to per-(key, bucket) last observation (max ts, tie
max ``tie_col`` — the batch kernel), join the frontier, and build
each key's emission span: from ``last_bucket + 1`` (or the batch's
first observed bucket for a new key) through the batch's max observed
bucket. The span explodes via ``sequence`` (narrow after the per-key
aggregate); observations override, gaps carry the running LOCF value
computed with one window over the span. Emission therefore stays
O(batch observations + gap buckets) — the 100 TB shape for a
dense-series emitter; a key with no new observation emits nothing
(its frontier is simply not yet extended, exactly like the batch
query's bounded [first, last] spine).

Replay (at-least-once): filled-append → frontier-swap → marker, with
``as_of_batch`` excluding already-applied keys on a replay that raced
the marker — identical contract to scd2_stream (duplicates in
``filled/`` are exact and dropped by ``read_filled`` on
(key, bucket_ts)). In-order arrival per key is assumed, as with every
keyed streaming twin. Under a frozen-corpus in-order replay,
``read_filled`` equals batch q126 row-for-row
(tests/test_streaming_gapfill.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import hash60
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_BUCKETS = 64
_IV = {"hour": "interval 1 hour", "day": "interval 1 day"}


def _last_path(state_dir: str) -> str:
    return os.path.join(state_dir, "last")


def _filled_path(state_dir: str) -> str:
    return os.path.join(state_dir, "filled")


def _hb(key_col):
    return F.pmod(hash60(key_col.cast("string")), F.lit(N_BUCKETS)).cast("int")


def merge_gapfill_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
    bucket: str = "hour",
) -> None:
    """Emit one micro-batch's dense bucket rows and advance the
    per-key frontier — see the module docstring for the contract."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession
    last_path, filled_path = _last_path(state_dir), _filled_path(state_dir)
    iv = _IV[bucket]

    obs = (
        batch_df.select(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
            F.col(ts_col).alias("__ts"),
            F.col(tie_col).cast("bigint").alias("__tie"),
            F.col(value_col).alias("value"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("key", "bucket_ts").orderBy(
                    F.desc("__ts"), F.desc("__tie")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("key", "bucket_ts", "value")
        .withColumn("hb", _hb(F.col("key")))
    ).cache()
    if obs.count() == 0:
        obs.unpersist()
        commit_marker(state_dir, batch_id)
        return

    touched = [int(r.hb) for r in obs.select("hb").distinct().collect()]
    state = _state.read(spark, last_path, "bucket")
    if state is not None:
        state = state.filter(F.col("bucket").isin(touched)).cache()
        state.count()
        frontier = state.select(
            "key",
            F.col("last_bucket").alias("f_bucket"),
            F.col("last_value").alias("f_value"),
            F.col("as_of_batch").alias("f_as_of"),
        )
    else:
        frontier = None

    if frontier is not None:
        obs2 = obs.join(frontier, "key", "left").filter(
            F.col("f_as_of").isNull() | (F.col("f_as_of") < F.lit(int(batch_id)))
        )
        # an observation AT the frontier bucket is the same time bucket
        # CONTINUING across the batch boundary — its later (in-order ⇒
        # larger-ts) value must override the already-emitted row, so it
        # is kept and re-emitted (the reader resolves latest-batch-wins
        # per bucket). Anything strictly BEFORE the frontier is stale
        # under the in-order contract and ignored.
        obs2 = obs2.filter(
            F.col("f_bucket").isNull() | (F.col("bucket_ts") >= F.col("f_bucket"))
        )
    else:
        obs2 = (
            # f_value must carry the observation's value type: a
            # hardcoded double would coerce the first batch's
            # filled_value (schema drift vs later batches, which
            # inherit the state's last_value type) or fail analysis
            # for non-numeric values
            obs.withColumn("f_bucket", F.lit(None).cast(obs.schema["bucket_ts"].dataType))
            .withColumn("f_value", F.lit(None).cast(obs.schema["value"].dataType))
            .withColumn("f_as_of", F.lit(None).cast("bigint"))
        )
    spans = obs2.groupBy("key", "hb", "f_bucket", "f_value").agg(
        F.min("bucket_ts").alias("b_min"), F.max("bucket_ts").alias("b_max")
    )
    # span start: a new key starts at its first observed bucket; a
    # known key re-emits the frontier bucket when this batch observed
    # it again, and otherwise resumes at the bucket AFTER the frontier
    # (its row was already emitted)
    start = F.when(F.col("f_bucket").isNull(), F.col("b_min")).when(
        F.col("b_min") == F.col("f_bucket"), F.col("f_bucket")
    ).otherwise(F.col("f_bucket") + F.expr(iv))
    spine = spans.select(
        "key",
        "hb",
        "f_value",
        F.explode(F.sequence(start, F.col("b_max"), F.expr(iv))).alias("bucket_ts"),
    )
    joined = spine.join(obs.drop("hb"), ["key", "bucket_ts"], "left")
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = joined.select(
        "key",
        "hb",
        "bucket_ts",
        # LOCF within the span, seeded by the frontier value for gaps
        # before the batch's first observation
        F.coalesce(F.last("value", ignorenulls=True).over(w), F.col("f_value")).alias(
            "filled_value"
        ),
        F.col("value").isNotNull().cast("int").alias("is_observed"),
    ).cache()
    rows.count()
    obs.unpersist()

    _state.append(
        rows.select(
            "key",
            "bucket_ts",
            "filled_value",
            "is_observed",
            F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
        ).coalesce(8),
        filled_path,
        None,
    )

    new_frontier = (
        rows.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("key").orderBy(F.desc("bucket_ts"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "key",
            F.col("bucket_ts").alias("last_bucket"),
            F.col("filled_value").alias("last_value"),
            F.lit(int(batch_id)).cast("bigint").alias("as_of_batch"),
            F.col("hb").alias("bucket"),
        )
    )
    if state is not None:
        carried = state.join(
            new_frontier.select("key").distinct(), "key", "left_anti"
        ).select("key", "last_bucket", "last_value", "as_of_batch", "bucket")
        folded = carried.unionByName(new_frontier)
    else:
        folded = new_frontier
    _state.fold(folded.repartition("bucket"), last_path, "bucket", touched)
    rows.unpersist()
    if state is not None:
        state.unpersist()
    commit_marker(state_dir, batch_id)


def read_filled(spark: SparkSession, state_dir: str) -> DataFrame:
    """The dense series emitted so far. LATEST-BATCH-WINS per
    (key, bucket_ts): a time bucket spanning a batch boundary is
    re-emitted by the later batch with the overriding value, and
    replay duplicates (same batch id, identical rows) collapse the
    same way."""
    filled = _state.read(spark, _filled_path(state_dir))
    if filled is None:
        raise ValueError(f"no gap-fill state at {state_dir}")
    w = Window.partitionBy("key", "bucket_ts").orderBy(F.desc("batch_id"))
    return (
        filled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "bucket_ts", "filled_value", "is_observed")
    )


def incremental_gapfill(
    events: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
    bucket: str = "hour",
    checkpoint: str | None = None,
):
    """Start the gap-fill query; returns the StreamingQuery. Refuses
    an uncheckpointed restart over existing state (the frontier swap
    cannot reprocess a reset batch-id sequence)."""
    return _state.start(
        events,
        lambda df, bid: merge_gapfill_batch(
            df, bid, state_dir, key_col, ts_col, value_col, tie_col, bucket
        ),
        applied_batch(state_dir),
        checkpoint,
    )
