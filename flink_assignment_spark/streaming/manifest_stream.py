"""Incremental corpus manifest — the streaming twin of q149
(operators/manifest.corpus_manifest).

The manifest digest is a SUM mod 2^63, so the incremental fold is
pure arithmetic: each micro-batch's own manifest (the batch operator
verbatim) merges into the persisted one by adding counts and digests
per bucket — commutative and associative, so the final manifest
equals the batch operator on the union of everything ingested, under
ANY batch boundaries or arrival order. Retractions are the same fold
with ``sign=-1`` (subtraction mod 2^63): feeding an erasure stream's
tombstoned rows keeps the live manifest equal to a from-scratch
rebuild without them — the integrity audit stays current THROUGH
deletes, which is the point of pairing it with the RTBF paths.

State is one tiny table (≤ n_buckets rows); the fold is a whole-table
``_state.replace`` whose meta carries the applied batch id
atomically with the data (the mixture/drift contract) — replays skip,
and there is no crash window in which data and marker disagree."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.manifest import N_BUCKETS, _WRAP, corpus_manifest
from . import _state

TABLE = "manifest"


def _path(state_dir: str) -> str:
    return os.path.join(state_dir, TABLE)


def merge_manifest_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str,
    content_cols: list[str],
    sign: int = 1,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Fold one micro-batch (``sign=+1``) or retraction batch
    (``sign=-1``, e.g. an erasure stream's purged rows) into the live
    manifest."""
    if sign not in (1, -1):
        raise ValueError(f"sign must be +1 or -1, got {sign}")
    spark = batch_df.sparkSession
    path = _path(state_dir)
    if _state.meta_applied_batch(path, "applied") >= batch_id:
        return

    bm = corpus_manifest(batch_df, key_col, content_cols, n_buckets)
    cur = _state.read(spark, path)
    if cur is not None:
        both = cur.select("bucket", "n_rows", "digest").unionByName(
            bm.select(
                "bucket",
                (F.col("n_rows") * sign).alias("n_rows"),
                (F.col("digest") * sign).alias("digest"),
            )
        )
    else:
        both = bm.select(
            "bucket",
            (F.col("n_rows") * sign).alias("n_rows"),
            (F.col("digest") * sign).alias("digest"),
        )
    wrap = F.expr(f"CAST('{_WRAP}' AS DECIMAL(38,0))")
    merged = both.groupBy("bucket").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        # pmod keeps retracted digests in [0, 2^63) — subtraction can
        # go negative before the wrap; decimal keeps the sum exact
        F.pmod(F.sum(F.col("digest").cast("decimal(38,0)")), wrap)
        .cast("long")
        .alias("digest"),
    ).filter(F.col("n_rows") > 0)
    _state.replace(
        merged.coalesce(1), path, meta={"applied": int(batch_id)}
    )


def read_manifest(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live manifest (bucket, n_rows, digest) — compare with a
    batch ``corpus_manifest`` via ``manifest_diff``."""
    df = _state.read(spark, _path(state_dir))
    if df is None:
        raise ValueError(f"no manifest state at {state_dir}")
    return df


def incremental_manifest(
    records: DataFrame,
    state_dir: str,
    key_col: str,
    content_cols: list[str],
    checkpoint: str | None = None,
):
    """Start the manifest fold; returns the StreamingQuery. Restart
    over existing state requires a checkpoint (reset batch ids would
    skip folds against the meta's applied high-water)."""
    return _state.start(
        records,
        lambda df, bid: merge_manifest_batch(
            df, bid, state_dir, key_col, content_cols, 1, N_BUCKETS
        ),
        _state.meta_applied_batch(_path(state_dir), "applied"),
        checkpoint,
    )
