"""Streaming SimHash near-duplicate detection.

The incremental form of batch q17 and the sibling of
``streaming.lsh_stream`` — both are thin parameterizations of the
shared bucketed-detector engine (``streaming._detector``), which owns
every state/crash/replay behavior. This wrapper supplies: the row
builder (the SAME frequency-weighted 48-bit fingerprint as
``operators.dedup.simhash_fingerprints`` — a per-document value, so
batching cannot change it — pigeonhole-blocked with the SAME
``blocked_fingerprints`` helper the batch join uses) and the pair
score. Unlike MinHash-LSH — whose streamed output is candidate
ESTIMATES needing a later exact-verify pass — the Hamming distance is
an exact popcount over the two stored fingerprints, so the pairs this
stream appends are FINAL verified near-dups (``hamming ≤
max_hamming``), no second pass.

Order-independence, the ``max_state_bucket`` sticky saturation valve,
and replay idempotence are the engine's contract; pinned for this
wrapper in tests/test_streaming_simhash.py (accumulated pair set ==
batch ``simhash_pairs`` across interleaved batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    SIMHASH_BITS,
    blocked_fingerprints,
    simhash_fingerprints,
)
from . import _state
from ._detector import merge_detector_batch, read_pairs

_KEYS = ["blk", "val"]


def merge_simhash_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    max_hamming: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_state_bucket: int | None = None,
    n_pt: int | None = None,
    compact_every: int | None = None,
) -> None:
    """Detect the batch's verified near-dup pairs against state +
    within the batch, append them, and fold the batch into state."""
    fps = simhash_fingerprints(batch_df, text_col, id_col)
    rows = blocked_fingerprints(fps, "doc_id", "simhash", SIMHASH_BITS, max_hamming)
    merge_detector_batch(
        rows,
        batch_id,
        state_dir,
        key_cols=_KEYS,
        payload_col="fp",
        payload_type="long",
        score=lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("int"),
        score_name="hamming",
        score_keep=lambda h: h <= max_hamming,
        max_state_bucket=max_state_bucket,
        n_pt=n_pt,
        compact_every=compact_every,
    )


def incremental_simhash_neardup(
    docs: DataFrame,
    state_dir: str,
    max_hamming: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_state_bucket: int | None = None,
    n_pt: int | None = None,
    compact_every: int | None = None,
    checkpoint: str | None = None,
):
    """Start the streaming near-dup query; returns the StreamingQuery.
    Restarting over an existing state dir REQUIRES ``checkpoint`` —
    the detector's durable replay marker is only valid while batch ids
    keep increasing (see ``_state.start``)."""
    return _state.start(
        docs,
        lambda df, bid: merge_simhash_batch(
            df, bid, state_dir, max_hamming, text_col, id_col, max_state_bucket,
            n_pt, compact_every
        ),
        _state.applied_batch(state_dir),
        checkpoint,
    )


def read_verified_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated distinct VERIFIED near-dup pairs (exact Hamming —
    no later verify pass needed)."""
    return read_pairs(spark, state_dir, "doc_a long, doc_b long, hamming int")


def erase_simhash_docs(spark: SparkSession, state_dir: str, doc_ids) -> None:
    """Right-to-be-forgotten cascade for the SimHash detector's state —
    bit-block bucket memberships, fingerprints, and verified pairs
    (see ``_detector.erase_docs`` for the crash-safe ordering)."""
    from ._detector import erase_docs

    erase_docs(spark, state_dir, doc_ids, key_cols=_KEYS, payload_col="fp")
