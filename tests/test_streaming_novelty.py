"""Streaming novelty == batch q78 under in-order replay: with one doc
per micro-batch in doc_id order, each batch's (n_shingles, n_new)
must equal q78's per-doc first-occurrence row for that doc; the seen
state must only grow, and only touched buckets are rewritten."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from flink_assignment_spark.queries.synthetic import REGISTRY
from flink_assignment_spark.sources.loaders import load_table
from flink_assignment_spark.streaming.novelty_stream import (
    incremental_novelty,
    read_novelty_stats,
)

from .conftest import SF_DIR

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"
# 12 one-doc micro-batches ≈ 1.5 min of wall clock; parity semantics
# are independent of the count
N_DOCS = 12


def test_streaming_novelty_matches_q78_in_order(spark, tmp_path):
    subset = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .filter(F.col("doc_id") < N_DOCS)
        .orderBy("doc_id")
        .collect()
    )
    assert len(subset) == N_DOCS

    # batch oracle: q78 over a corpus containing ONLY the subset
    oracle_dir = str(tmp_path / "oracle_sf")
    spark.createDataFrame(subset, DOCS_SCHEMA).write.parquet(
        os.path.join(oracle_dir, "documents.parquet")
    )
    want = {
        r.doc_id: (r.n_shingles, r.n_new)
        for r in REGISTRY["q78_shingle_novelty"].spark(spark, oracle_dir).collect()
    }

    # stream: one file per doc, written in id order (file-source order)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, row in enumerate(subset):
        spark.createDataFrame([row], DOCS_SCHEMA).coalesce(1).write.parquet(
            str(in_dir / f"f{i:03d}")
        )
        time.sleep(0.02)  # distinct mtimes keep file-source order stable
    state_dir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(in_dir) + "/*")
    )
    q = incremental_novelty(stream, state_dir)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    stats = sorted(read_novelty_stats(spark, state_dir).collect(), key=lambda r: r.batch_id)
    assert [r.n_docs for r in stats] == [1] * N_DOCS
    got = [(r.n_shingles, r.n_new) for r in stats]
    expected = [want[r["doc_id"]] for r in subset]
    assert got == expected

    # state contains exactly the union of all distinct shingles, once
    seen = spark.read.parquet(os.path.join(state_dir, "seen"))
    n_seen = seen.count()
    assert n_seen == seen.select("h").distinct().count()
    assert n_seen == sum(r.n_new for r in stats)
    # novelty is monotone-ish sanity: first batch is 100% novel
    assert stats[0].novelty_rate == 1.0


def test_checkpointed_restart_folds_new_files(spark, tmp_path):
    """Restart over existing novelty state: without a checkpoint the
    restarted query's batch 0 would be ≤ the durable marker and be
    skipped, losing the new file's shingles without an error — so it
    is refused; with the checkpoint the source resumes its offsets and
    the new file lands as the next batch."""
    schema = "doc_id long, text string"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # word 3-shingles: f0 has 2, f1 has 1, f2 has 3 more (all distinct)
    texts = ["a b c d", "x y z", "p q r s t"]
    for i, text in enumerate(texts[:2]):
        spark.createDataFrame([(i, text)], schema).coalesce(1).write.parquet(
            str(in_dir / f"f{i}")
        )
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def _run(**kw):
        stream = spark.readStream.schema(schema).parquet(str(in_dir) + "/*")
        q = incremental_novelty(stream, state_dir, **kw)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def _n_seen():
        return spark.read.parquet(os.path.join(state_dir, "seen")).count()

    _run(checkpoint=ckpt)
    stats = read_novelty_stats(spark, state_dir).collect()
    assert [(r.batch_id, r.n_new) for r in stats] == [(0, 3)]
    assert _n_seen() == 3

    spark.createDataFrame([(2, texts[2])], schema).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )
    stream = spark.readStream.schema(schema).parquet(str(in_dir) + "/*")
    with pytest.raises(ValueError, match="applied-batch"):
        incremental_novelty(stream, state_dir)
    _run(checkpoint=ckpt)
    stats = read_novelty_stats(spark, state_dir).collect()
    assert sorted((r.batch_id, r.n_docs, r.n_new) for r in stats) == [
        (0, 2, 3),
        (1, 1, 3),
    ]
    assert _n_seen() == 6
