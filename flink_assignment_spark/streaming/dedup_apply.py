"""Incremental dedup APPLY: maintain the kept corpus as a stream sink.

Closes the detect → apply loop in streaming form: ``exact_dedup_stream``
detects survivors, this module's ``foreachBatch`` sink maintains the
q62-style kept-corpus table (one row per distinct text: keeper doc +
group size) INCREMENTALLY — no batch recomputation over history.

Merge semantics per micro-batch (an upsert keyed on ``text_hash``):

- new hash → insert the batch's min-``id_col`` doc with its batch count;
- existing hash → keep the existing keeper row, add the batch count to
  ``n_dups``.

``n_dups`` is therefore EXACT regardless of arrival order (counts are
additive, and the applied-batch marker — committed atomically WITH the
data through ``_state.replace`` — makes redelivered batches
no-ops, so at-least-once replay cannot double-count). The keeper
matches batch ``q62_dedup_apply``'s min-id keeper whenever ids ascend
with arrival order (the in-order replay contract shared with the other
streaming operators); under out-of-order id arrival the keeper is
first-seen-batch-min instead — same survivor count, possibly a
different representative.

Scale shape: the merge is a full-outer join on ``text_hash`` between
the existing kept table and ONE micro-batch's aggregated groups — at
100 TB this is a storage-layer ``MERGE INTO`` (Delta/Iceberg) that
rewrites only the touched files. All state I/O goes through the
shared store in ``_state``, whose ``replace`` is an atomic two-rename
swap with crash healing (:func:`~._state.recover_replace`).
Single-writer assumption: one streaming query owns ``table_path``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _state


def merge_dedup_groups(
    batch_df: DataFrame,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
    batch_id: int | None = None,
) -> None:
    """Upsert one micro-batch's exact-dup groups into the kept table.

    Idempotent under Structured Streaming's at-least-once foreachBatch
    replay when ``batch_id`` is passed: the applied batch id commits
    atomically with the merged data (``_state.replace(..., meta=...)``),
    so a redelivered batch is skipped instead of double-adding its
    ``n_dups`` — after a crash at any point, readers see the previous
    (data, marker) pair or the new one, never a mix."""
    if batch_id is not None and batch_id <= _state.meta_applied_batch(table_path):
        return
    keep_cols = [id_col, *carry_cols]
    new = (
        batch_df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min_by(F.struct(*keep_cols), F.col(id_col)).alias("keep"),
            F.count("*").alias("n_dups"),
        )
        .select("text_hash", "keep.*", "n_dups")
    )
    old = _state.read(batch_df.sparkSession, table_path)
    if old is not None:
        merged = (
            old.alias("o")
            .join(new.alias("n"), "text_hash", "full_outer")
            .select(
                "text_hash",
                *[
                    F.coalesce(F.col(f"o.{c}"), F.col(f"n.{c}")).alias(c)
                    for c in keep_cols
                ],
                (
                    F.coalesce(F.col("o.n_dups"), F.lit(0))
                    + F.coalesce(F.col("n.n_dups"), F.lit(0))
                ).alias("n_dups"),
            )
        )
    else:
        merged = new
    meta = None if batch_id is None else {"applied_batch": int(batch_id)}
    _state.replace(merged, table_path, meta)


def incremental_dedup_apply(
    docs: DataFrame,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
):
    """Start the maintenance query; returns the StreamingQuery.
    Restart over existing state requires a checkpoint (``_state.start``).

    ``docs`` is the RAW document stream (not pre-deduped): the sink
    aggregates each micro-batch itself so duplicate counts inside a
    batch are captured — feeding it through ``exact_dedup_stream``
    first would lose the per-group sizes.
    """
    return _state.start(
        docs,
        lambda df, bid: merge_dedup_groups(
            df, table_path, text_col, id_col, carry_cols, batch_id=bid
        ),
        _state.meta_applied_batch(table_path),
        checkpoint,
    )


def read_kept(
    spark: SparkSession,
    table_path: str,
    schema: str | None = None,
) -> DataFrame:
    """The maintained kept corpus: (text_hash, keeper cols..., n_dups).

    A table that was never committed raises ``FileNotFoundError`` with
    a clear message (``_state.read`` returns None, which would
    otherwise surface as an opaque ``AttributeError`` at the caller's
    first method call). Unlike the mixture readers, the kept schema
    carries caller-chosen keeper columns this function cannot know —
    pass ``schema`` (DDL string, e.g. ``"text_hash string, doc_id
    long, n_dups long"``) to get a typed empty frame instead of the
    error on fresh paths."""
    df = _state.read(spark, table_path)
    if df is None:
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"kept corpus at {table_path!r} has never been committed — "
            "run the dedup-apply stream first, or pass schema= for a "
            "typed empty frame"
        )
    return df
