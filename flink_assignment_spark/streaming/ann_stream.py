"""Streaming approximate-nearest-neighbor probe — similarity search
deployed on a live query stream against a FROZEN IVF index.

The production ANN shape is asymmetric: the corpus index is built (and
re-built) in batch — k-means centroids plus the cell-assigned corpus,
both persisted — while queries arrive continuously and must be scored
NOW, against the index as-frozen. That is the same export/score split
as BM25's frozen-stats scorer and q116's frozen quality cutoffs:

- train once:   ``operators.similarity.ivf_train`` → centroid artifact
                (``save_centroids``/``load_centroids`` round-trips it
                as JSON); ``ivf_index`` → cell-assigned corpus,
                persisted as plain parquet (partition by ``cell`` to
                make the probe join partition-pruned).
- score always: each micro-batch runs ``ivf_probe`` VERBATIM against
                the static index — the scoring half touches no
                training state, so batch and stream results for the
                same query set are byte-identical by shared code path
                (pinned in tests/test_streaming_ann.py).

foreachBatch (not a stream-static join followed by ranking): the
per-query top-k needs a ranking window over the candidate set, which
append-mode streaming cannot express without a watermark the query
stream doesn't have; inside foreachBatch the micro-batch is a plain
DataFrame, so the identical batch kernel runs unchanged. Appended
rows carry (run_seq, batch_id) provenance; ``read_ann_results``
collapses in-run replays (identical rows) and resolves cross-run
re-scoring latest-run-wins per (query_id, rank).

Refreshing the index is a blue/green swap: build the new (centroids,
index) pair in batch, then restart the probe query pointing at the
new artifacts — the stream itself holds no state to migrate
(``state_dir`` only accumulates results and the replay marker).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import ivf_probe
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
    next_run_seq,
    run_marker,
)


def _results_path(state_dir: str) -> str:
    return os.path.join(state_dir, "results")


def probe_ann_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    centroids,
    index: DataFrame,
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    marker: str = "_applied_batch",
    run_seq: int = 0,
) -> None:
    """Score one micro-batch of query vectors with the batch
    ``ivf_probe`` kernel and append the ranked neighbors (tagged with
    the producing run's ``run_seq`` so cross-run duplicates resolve
    latest-wins at read)."""
    if batch_id <= applied_batch(state_dir, marker):
        return
    out = (
        ivf_probe(batch_df, centroids, index, k, n_probe, id_col, vec_col)
        .withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
        .withColumn("run_seq", F.lit(int(run_seq)).cast("bigint"))
    )
    _state.append(out.coalesce(8), _results_path(state_dir), None)
    commit_marker(state_dir, batch_id, marker)


def ann_probe_stream(
    queries: DataFrame,
    state_dir: str,
    centroids,
    index: DataFrame,
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Start the streaming ANN probe; returns the StreamingQuery.
    Pass ``checkpoint`` (a Structured Streaming checkpoint directory)
    when the query must survive restarts — the blue/green index swap
    restarts the probe against new artifacts and the checkpoint is
    what lets the restarted query resume the source offsets instead
    of replaying from scratch. WITHOUT a checkpoint the replay marker
    is scoped to THIS run (see ``_state.run_marker``): a restarted
    query's batch ids reset to 0, and a durable marker would silently
    mask every post-restart batch (r12 ADVICE) — the per-run marker
    reprocesses instead, and ``read_ann_results`` resolves the
    re-scored rows LATEST-RUN-WINS (reprocessing need not reproduce
    the old batch boundaries, so a batch-keyed dedup alone would keep
    both copies — r13 review)."""
    run_seq = next_run_seq(state_dir)
    marker = run_marker(checkpoint)

    return _state.start(
        queries,
        lambda df, bid: probe_ann_batch(
            df, bid, state_dir, centroids, index, k, n_probe, id_col, vec_col,
            marker, run_seq
        ),
        applied_batch(state_dir, marker),
        checkpoint,
    )


def probe_lsh_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    base: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    marker: str = "_applied_batch",
    run_seq: int = 0,
) -> None:
    """Score one micro-batch of query vectors against a FROZEN LSH
    base (``lsh_bucketize_self`` / ``load_lsh_base``) with the batch
    ``lsh_topk`` kernel — the query side is bucketized per batch with
    the same deterministic md5-seeded hyperplanes, so batch and stream
    results agree by shared code path, exactly like the IVF probe."""
    from ..operators.similarity import lsh_topk

    if batch_id <= applied_batch(state_dir, marker):
        return
    out = lsh_topk(
        batch_df,
        None,
        k,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        base=base,
    ).withColumn("batch_id", F.lit(int(batch_id)).cast("bigint")).withColumn(
        "run_seq", F.lit(int(run_seq)).cast("bigint")
    )
    _state.append(out.coalesce(8), _results_path(state_dir), None)
    commit_marker(state_dir, batch_id, marker)


def lsh_probe_stream(
    queries: DataFrame,
    state_dir: str,
    base: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Start the streaming LSH ANN probe against a frozen bucketized
    base; returns the StreamingQuery. Index refresh is the same
    blue/green swap as the IVF probe: rebuild the base in batch
    (``save_lsh_base``), restart the query pointing at the new
    artifact — the stream holds no state to migrate. Uncheckpointed
    restarts get a per-run replay marker (``_state.run_marker``) so a
    stale durable marker cannot silently mask the restarted run's
    reset batch ids; the reprocessed rows resolve latest-run-wins at
    read. Pass ``checkpoint`` for offset-resuming restarts."""
    run_seq = next_run_seq(state_dir)
    marker = run_marker(checkpoint)

    return _state.start(
        queries,
        lambda df, bid: probe_lsh_batch(
            df, bid, state_dir, base, k, dim, n_planes, n_tables, id_col, vec_col,
            marker, run_seq
        ),
        applied_batch(state_dir, marker),
        checkpoint,
    )


def read_ann_results(spark: SparkSession, state_dir: str) -> DataFrame:
    """Each query's CURRENT ranked neighbors. Within one run a query
    is scored in its arrival batch, so (query_id, rank) is unique;
    in-run replays of a batch append identical rows (deterministic
    probe, frozen index) and collapse in the first dedup. ACROSS runs
    — an uncheckpointed restart reprocessing the source, possibly
    against a swapped index — the same query may be re-scored under
    different batch ids and even different values, so the read keeps
    the LATEST run's row per (query_id, rank): re-probes reflect the
    most recent scoring, which after a blue/green swap is the new
    index (r13 review — a batch-keyed dedup alone kept both copies).
    batch_id/run_seq remain as provenance columns."""
    from pyspark.sql import Window

    raw = _state.read(spark, _results_path(state_dir))
    dd = raw.dropDuplicates(["run_seq", "batch_id", "query_id", "rank"])
    w = Window.partitionBy("query_id", "rank").orderBy(
        F.desc("run_seq"), F.desc("batch_id")
    )
    return (
        dd.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def probe_pq_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    codebooks,
    codes: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    marker: str = "_applied_batch",
    run_seq: int = 0,
) -> None:
    """Score one micro-batch of query vectors against FROZEN PQ
    artifacts (codebooks + encoded codes; ``corpus`` supplies the raw
    vectors for the exact re-rank) with the batch ``pq_topk`` kernel
    — the third member of the frozen-index probe family next to IVF
    and LSH, same provenance/replay contract."""
    from ..operators.similarity import pq_topk

    if batch_id <= applied_batch(state_dir, marker):
        return
    out = pq_topk(
        batch_df,
        corpus,
        k,
        shortlist_k,
        id_col=id_col,
        vec_col=vec_col,
        codebooks=codebooks,
        codes=codes,
    ).withColumn("batch_id", F.lit(int(batch_id)).cast("bigint")).withColumn(
        "run_seq", F.lit(int(run_seq)).cast("bigint")
    )
    _state.append(out.coalesce(8), _results_path(state_dir), None)
    commit_marker(state_dir, batch_id, marker)


def pq_probe_stream(
    queries: DataFrame,
    state_dir: str,
    codebooks,
    codes: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Start the streaming PQ ANN probe against frozen (codebooks,
    codes) artifacts; returns the StreamingQuery. Index refresh is
    the same blue/green swap as the IVF/LSH probes (rebuild with
    ``pq_train``/``pq_encode``/``save_pq``, restart against the new
    pair — the stream holds no state to migrate); uncheckpointed
    restarts get the per-run replay marker and re-scored rows resolve
    latest-run-wins at read."""
    run_seq = next_run_seq(state_dir)
    marker = run_marker(checkpoint)

    return _state.start(
        queries,
        lambda df, bid: probe_pq_batch(
            df, bid, state_dir, codebooks, codes, corpus, k, shortlist_k, id_col,
            vec_col, marker, run_seq
        ),
        applied_batch(state_dir, marker),
        checkpoint,
    )
