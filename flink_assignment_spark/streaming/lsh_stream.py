"""Streaming MinHash-LSH near-duplicate detection.

The incremental form of the batch q16 pipeline, now a thin
parameterization of the shared bucketed-detector engine
(``streaming._detector`` — every state/crash/replay behavior lives
there, shared with the SimHash stream). This wrapper supplies the
row builder and the pair score: each arriving micro-batch is
shingled, MinHash-signed (the SAME 16 permutations / md5-derived
hashes as ``operators.dedup``), LSH-banded (the SAME ``band_keys``
helper, so keys are byte-identical by construction), and each
colliding pair is scored with ``est_jaccard`` = fraction of agreeing
signature slots (the standard MinHash estimator).
:func:`verify_candidates` (or a threshold filter) consumes the pairs
table — unlike the SimHash stream, whose popcount score is already
exact, LSH candidates are estimates awaiting an exact-verify pass.

Candidate-set completeness is ORDER-INDEPENDENT: for any pair, the
later-arriving doc meets the earlier one in bucket state (new×old),
or both share a micro-batch (new×new) — each colliding pair is found
exactly once either way. tests/test_streaming_lsh.py pins the
accumulated candidate set equal to the batch banding's bucket pairs,
the estimator equal to its batch value, and recall of every q16
verified pair. Contract scope: the equality holds for the UNCAPPED
configuration; batch q16 additionally applies MAX_SHINGLE_DF /
MAX_LSH_BUCKET caps, which are corpus-global knowledge a stream
cannot reproduce incrementally — on corpora where those caps actually
fire, the uncapped stream yields a SUPERSET of the capped batch
candidates (never a miss), at a skew cost the ``max_state_bucket``
sticky saturation valve (the engine's) bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import MINHASH_PERMS
from ..operators.dedup import band_keys, doc_shingles, minhash_signatures
from . import _state
from ._detector import merge_detector_batch, read_pairs

N_PERMS = len(MINHASH_PERMS)
_KEYS = ["band", "key"]


def _banded_sigs(batch_df: DataFrame, text_col: str, id_col: str, rows_per_band: int):
    """(doc_id, sig, band, key) — one row per band per doc."""
    sh = doc_shingles(batch_df, text_col, id_col)
    sigs = minhash_signatures(batch_df, text_col, id_col, shingles=sh)
    sig = F.array(*[F.col(f"mh{i}") for i in range(N_PERMS)])
    return band_keys(sigs.withColumn("sig", sig), rows_per_band)


def _est_jaccard(sig_a, sig_b):
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.round(agree / F.lit(N_PERMS), 6)


def merge_lsh_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    max_state_bucket: int | None = None,
    n_pt: int | None = None,
    compact_every: int | None = None,
) -> None:
    """Detect the batch's candidate near-dup pairs against state +
    within the batch, append them, and fold the batch into state.
    ``n_pt`` sizes the state partitioning (pinned at first fold — see
    ``_detector``'s sizing note)."""
    rows = _banded_sigs(batch_df, text_col, id_col, rows_per_band).select(
        *_KEYS, "doc_id", F.col("sig")
    )
    merge_detector_batch(
        rows,
        batch_id,
        state_dir,
        key_cols=_KEYS,
        payload_col="sig",
        payload_type="array<long>",
        score=_est_jaccard,
        score_name="est_jaccard",
        score_keep=None,  # estimates: every colliding pair is a candidate
        max_state_bucket=max_state_bucket,
        n_pt=n_pt,
        compact_every=compact_every,
    )


def incremental_lsh_neardup(
    docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    max_state_bucket: int | None = None,
    n_pt: int | None = None,
    compact_every: int | None = None,
    checkpoint: str | None = None,
):
    """Start the streaming near-dup query; returns the StreamingQuery.
    Pass ``checkpoint`` when the detector must survive restarts (e.g.
    the corpus-artifact blue/green swap restarts the consumer): the
    restarted query resumes source offsets, batch ids continue, and
    the durable ``_applied_batch`` marker stays valid across runs —
    the correct pairing for the detector's convergent (not
    re-run-idempotent) fold. Restarting over an EXISTING state dir
    without one is refused (``_state.start``):
    the fresh run's batch ids reset to 0 and the durable marker would
    silently skip them all — data loss, not an error (r13 review)."""
    return _state.start(
        docs,
        lambda df, bid: merge_lsh_batch(
            df, bid, state_dir, text_col, id_col, rows_per_band, max_state_bucket,
            n_pt, compact_every
        ),
        _state.applied_batch(state_dir),
        checkpoint,
    )


def read_candidate_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated distinct candidate pairs with their signature-
    estimated Jaccard (replays may append duplicates — distinct'd at
    read; no pairs/ table is a legitimate empty result)."""
    return read_pairs(spark, state_dir, "doc_a long, doc_b long, est_jaccard double")


def verify_candidates(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-Jaccard verification of accumulated streamed candidates —
    the batch half of the incremental detect→verify loop. Restricts
    the inverted index to candidate docs (the q16 trick: the verify
    join is bounded by candidate volume, not corpus size) and returns
    ``(doc_a, doc_b, est_jaccard, jaccard)`` for pairs at or above
    ``threshold``. ``pairs`` feeds three plan branches and the shingle
    index feeds a self-join, so both are cached here (the q16 caching
    rationale: Spark performs no cross-branch common-subexpression
    elimination). Run per day/week over the pairs table; the streaming
    side keeps only estimates, so the expensive exact join never
    blocks ingest."""
    from ..operators.dedup import ngram_jaccard_pairs

    pairs = pairs.cache()
    pairs.count()
    cand_docs = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh_cand = (
        doc_shingles(docs, text_col, id_col).join(cand_docs, id_col, "left_semi").cache()
    )
    exact = ngram_jaccard_pairs(docs, threshold, text_col, id_col, shingles=sh_cand)
    return pairs.join(exact, ["doc_a", "doc_b"])


def erase_lsh_docs(spark: SparkSession, state_dir: str, doc_ids) -> None:
    """Right-to-be-forgotten cascade for the LSH detector's state —
    band-bucket memberships, MinHash signatures, and candidate pairs
    (see ``_detector.erase_docs`` for the crash-safe ordering)."""
    from ._detector import erase_docs

    erase_docs(spark, state_dir, doc_ids, key_cols=_KEYS, payload_col="sig")
