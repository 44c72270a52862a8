#!/usr/bin/env python
"""Scaling experiment: run representative event queries at 1×, 10×,
and 100× the sf0.1 event volume and report rows/sec per scale.

The claim under test is the 100 TB design contract: window
aggregation, two-level aggregation, the bucketed interval join, and
sessionization should scale ~linearly in input rows when data density
per key is held constant (users grow with the data, as in reality).

Data is generated IN SPARK (deterministic id-derived columns, no
driver-side loop) and written as parquet under /tmp — the same shape
as the driver's events table.

Usage: python bench_scaling.py [--scales 100000 1000000 10000000]
"""

from __future__ import annotations

import argparse
import json
import os
import time

EPOCH_2024_US = 1704067200 * 1_000_000
MONTH_US = 30 * 86400 * 1_000_000


def ensure_events(spark, n_rows: int, path: str) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    n_users = max(n_rows // 666, 1)  # constant per-user density
    df = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(EPOCH_2024_US) + (F.col("id") * 2654435761) % MONTH_US
        ).alias("ts"),
        ((F.col("id") * 40503) % n_users).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ["click", "view", "purchase", "signup", "error"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (((F.col("id") * 7919) % 49001) / 100.0).alias("value"),
        F.concat(F.lit('{"k": '), (F.col("id") % 100).cast("string"), F.lit("}")).alias(
            "props"
        ),
    )
    df.write.mode("overwrite").parquet(path)


def ensure_documents(spark, n_docs: int, path: str) -> None:
    """Documents with CONSTANT near-dup density: groups of 3 docs, 60
    tokens each, variants perturb the first 2 tokens — so every group
    contributes ~3 high-Jaccard pairs and the true-pair volume is O(n)
    at every scale (the property real corpora have; naive replication
    would instead grow clusters quadratically and measure the data,
    not the algorithm). All columns derive from ``id`` JVM-side."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    group = (F.col("id") / 3).cast("long")
    variant = F.col("id") % 3
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.concat(
            F.lit("w"),
            ((group * 6151 + i * 769) % 9999991).cast("string"),
            F.when((i < 2) & (variant != 0), variant.cast("string")).otherwise(F.lit("")),
        ),
    )
    df = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", toks).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("scalegen").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    df.write.mode("overwrite").parquet(path)


def _timed_reps(spark, qn: str, base: str, n_rows: int, reps: int) -> dict:
    """Run one registry query ``reps`` times; report the median (all
    reps recorded — rep 1 typically carries JIT/worker warmup)."""
    import statistics
    import time

    from flink_assignment_spark.queries.synthetic import REGISTRY

    secs = []
    for _ in range(reps):
        t0 = time.monotonic()
        REGISTRY[qn].spark(spark, base).write.format("noop").mode("overwrite").save()
        secs.append(time.monotonic() - t0)
    # statistics.median averages the middle pair for even rep counts —
    # the upper-middle element would report the SLOWER (often warmup) run
    med = statistics.median(secs)
    return {
        "sec": round(med, 2),
        "rows_per_sec": int(n_rows / med),
        "reps": [round(s, 2) for s in secs],
    }


def stream_lsh_sweep(
    spark,
    scales: list[int],
    n_batches: int = 10,
    max_state_bucket: int = 50,
    compact_every: int = 0,
) -> dict:
    """Per-batch latency of the incremental MinHash-LSH detector as
    the corpus state grows. The claim under test: each micro-batch's
    cost is bounded by ITS OWN volume plus the (cap-bounded) buckets
    it collides with — not by total accumulated state — because only
    touched pt partitions are read/rewritten and the saturation valve
    tombstones degenerate buckets. Evidence shape: per-batch seconds
    across a 10-batch id-ordered replay at each corpus scale, plus
    final state/pair volumes."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming import _state
    from flink_assignment_spark.streaming.lsh_stream import merge_lsh_batch

    out = {}
    for n in scales:
        base = f"/tmp/fas_docscale_{n}"
        ensure_documents(spark, n, os.path.join(base, "documents.parquet"))
        docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
        state_dir = f"/tmp/fas_lsh_stream_{n}"
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.makedirs(state_dir)
        bsz = n // n_batches
        per_batch = []
        # auto-compaction (r10): the trigger now lives INSIDE the fold
        # (merge_detector_batch compact_every=), so a compacting
        # batch's time includes its compaction — per_batch_sec is the
        # honest end-to-end ingest latency. compacted_at records which
        # batches compacted (from the _compacted marker transitions)
        # so the flat-curve analysis can tell amortized spikes from
        # drift; per_batch_sec stays homogeneous floats (r7 ADVICE).
        from flink_assignment_spark.streaming._detector import _compacted_batch

        compacted_at = []
        for b in range(n_batches):
            batch = docs.filter(
                (F.col("doc_id") >= b * bsz) & (F.col("doc_id") < (b + 1) * bsz)
            )
            t0 = time.monotonic()
            merge_lsh_batch(
                batch, b, state_dir,
                max_state_bucket=max_state_bucket,
                compact_every=compact_every or None,
            )
            per_batch.append(round(time.monotonic() - t0, 2))
            if _compacted_batch(state_dir) == b:
                compacted_at.append(b)
        from flink_assignment_spark.streaming._detector import read_pairs

        st = _state.read(spark, os.path.join(state_dir, "buckets"), "pt")
        state_rows = st.count() if st is not None else 0
        n_pairs = read_pairs(
            spark, state_dir, "doc_a long, doc_b long, est_jaccard double"
        ).count()
        out[str(n)] = {
            "per_batch_sec": per_batch,
            "compacted_at": compacted_at,
            "batch_rows": bsz,
            "state_rows_final": state_rows,
            "distinct_pairs": n_pairs,
        }
        shutil.rmtree(state_dir)
    return out


def substring_family_point(spark, n_docs: int, reps: int = 3) -> dict:
    """The round-8/9 promised measurement: q88 (coverage), q95
    (scrub), q104 (spans) all consume ONE stride-1 substring window
    index. Shared run = memo warm across the family (one build);
    independent run = memo + cache cleared before each query (three
    builds — what three separate jobs would pay). The claim: shared
    ≈ one index build + three cheap consumers, so family total is
    ≥2× cheaper than independent once the build dominates."""
    from flink_assignment_spark.queries.synthetic import _OCC_MEMO, REGISTRY

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    fam = ["q88_substring_dedup", "q95_substring_scrub", "q104_substring_spans"]

    def run_one(qn):
        t0 = time.monotonic()
        REGISTRY[qn].spark(spark, base).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    import statistics

    indep, shared = {}, {}
    for _ in range(reps):
        for qn in fam:  # cold: every query pays its own index build
            spark.catalog.clearCache()
            _OCC_MEMO.clear()
            indep.setdefault(qn, []).append(run_one(qn))
        spark.catalog.clearCache()
        _OCC_MEMO.clear()
        for qn in fam:  # warm family: first query builds, rest reuse
            shared.setdefault(qn, []).append(run_one(qn))
    spark.catalog.clearCache()
    _OCC_MEMO.clear()
    ind_med = {q: round(statistics.median(v), 2) for q, v in indep.items()}
    sh_med = {q: round(statistics.median(v), 2) for q, v in shared.items()}
    return {
        "n_docs": n_docs,
        "independent_sec": ind_med,
        "shared_sec": sh_med,
        "independent_total": round(sum(ind_med.values()), 2),
        "shared_total": round(sum(sh_med.values()), 2),
        "family_speedup": round(
            sum(ind_med.values()) / max(sum(sh_med.values()), 1e-9), 2
        ),
        "reps": reps,
    }


def heavy_hitters_toks_ab(spark, n_docs: int, reps: int = 3) -> dict:
    """A/B for q92's materialized token stream (round-9 finding: the
    persist shipped unmeasured and cost +37% at sf0.1): persisted
    single tokenize (toks=) vs two narrow tokenize scans (toks=None).
    Decides which shape is the default."""
    import statistics

    from flink_assignment_spark.operators.frequent import heavy_hitters, token_stream

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet")).select("text")

    def run(with_persist: bool) -> float:
        spark.catalog.clearCache()
        t0 = time.monotonic()
        toks = token_stream(docs).persist() if with_persist else None
        hh = heavy_hitters(docs, phi_inv=200, toks=toks)
        hh.write.format("noop").mode("overwrite").save()
        if toks is not None:
            toks.unpersist()
        return time.monotonic() - t0

    persist = [run(True) for _ in range(reps)]
    rescan = [run(False) for _ in range(reps)]
    return {
        "n_docs": n_docs,
        "persist_sec": round(statistics.median(persist), 2),
        "rescan_sec": round(statistics.median(rescan), 2),
        "persist_reps": [round(s, 2) for s in persist],
        "rescan_reps": [round(s, 2) for s in rescan],
    }


def stream_spans_sweep(spark, n_docs: int, n_batches: int = 10) -> dict:
    """Per-batch latency of the streamed stride-1 span reader
    (streaming/chunk_dedup_stream.py) over an in-order 10-batch
    replay, plus row-count parity of the accumulated maximal spans vs
    batch q104's substring_spans (exact-value parity is pinned at
    sf0.001 in tests/test_streaming_chunk_dedup.py). The claim: keyed
    state on the window hash makes per-batch cost track the BATCH's
    volume, not accumulated corpus size."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.operators.dedup import substring_spans
    from flink_assignment_spark.streaming.chunk_dedup_stream import (
        read_dup_spans,
        substring_dedup_stream,
    )

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet")).select(
        "doc_id", "text"
    )
    work = f"/tmp/fas_spans_stream_{n_docs}"
    if os.path.exists(work):
        shutil.rmtree(work)
    in_dir = os.path.join(work, "in")
    bsz = n_docs // n_batches
    for b in range(n_batches):  # one file per micro-batch, doc_id order
        docs.filter(
            (F.col("doc_id") >= b * bsz) & (F.col("doc_id") < (b + 1) * bsz)
        ).coalesce(1).write.parquet(os.path.join(in_dir, f"b{b:02d}"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    sink = os.path.join(work, "occ")
    q = (
        substring_dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [
            {
                "batch": p["batchId"],
                "sec": round(p["durationMs"]["triggerExecution"] / 1000.0, 2),
                "rows": p["numInputRows"],
            }
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    streamed_spans = read_dup_spans(spark.read.parquet(sink)).count()
    batch_spans = substring_spans(docs).count()
    shutil.rmtree(work)
    return {
        "n_docs": n_docs,
        "per_batch": progress,
        "streamed_span_rows": streamed_spans,
        "batch_span_rows": batch_spans,
        "parity": streamed_spans == batch_spans,
    }


def stream_simhash_sweep(
    spark, scales: list[int], n_batches: int = 10, max_state_bucket: int = 50
) -> dict:
    """Per-batch latency of the incremental SimHash detector (same
    protocol as the LSH sweep — the two share the bucketed-detector
    engine, so this isolates the cost of the cheaper signature)."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming.simhash_stream import merge_simhash_batch

    out = {}
    for n in scales:
        base = f"/tmp/fas_docscale_{n}"
        ensure_documents(spark, n, os.path.join(base, "documents.parquet"))
        docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
        state_dir = f"/tmp/fas_simhash_stream_{n}"
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.makedirs(state_dir)
        bsz = n // n_batches
        per_batch = []
        for b in range(n_batches):
            batch = docs.filter(
                (F.col("doc_id") >= b * bsz) & (F.col("doc_id") < (b + 1) * bsz)
            )
            t0 = time.monotonic()
            merge_simhash_batch(batch, b, state_dir, max_state_bucket=max_state_bucket)
            per_batch.append(round(time.monotonic() - t0, 2))
        from flink_assignment_spark.streaming.simhash_stream import read_verified_pairs

        out[str(n)] = {
            "per_batch_sec": per_batch,
            "batch_rows": bsz,
            "verified_pairs": read_verified_pairs(spark, state_dir).count(),
        }
        shutil.rmtree(state_dir)
    return out


def stream_cc_sweep(spark, scales: list[int], n_batches: int = 10) -> dict:
    """Per-batch latency of incremental connected components as the
    mapping state grows. Pairs come straight from the doc generator's
    known group structure (groups of 3 near-dups → 3 pairs per group,
    O(n) true pairs), id-ordered — so per-batch affected-component
    volume stays constant while total state grows 10×; flat per-batch
    cost is the claim under test."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming.components_stream import (
        merge_components_batch,
        read_components,
    )

    out = {}
    for n in scales:
        g = (F.col("id") / 3).cast("long") * 3
        pairs = (
            spark.range(n)
            .select(
                F.when(F.col("id") % 3 == 0, g)
                .when(F.col("id") % 3 == 1, g)
                .otherwise(g + 1)
                .alias("doc_a"),
                F.when(F.col("id") % 3 == 0, g + 1)
                .when(F.col("id") % 3 == 1, g + 2)
                .otherwise(g + 2)
                .alias("doc_b"),
            )
        )
        state_dir = f"/tmp/fas_cc_stream_{n}"
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        bsz = n // n_batches
        per_batch = []
        for b in range(n_batches):
            batch = pairs.filter(
                (F.col("doc_a") >= b * bsz) & (F.col("doc_a") < (b + 1) * bsz)
            )
            t0 = time.monotonic()
            merge_components_batch(batch, b, state_dir)
            per_batch.append(round(time.monotonic() - t0, 2))
        out[str(n)] = {
            "per_batch_sec": per_batch,
            "batch_pairs": bsz,
            "mapping_rows": read_components(spark, state_dir).count(),
        }
        shutil.rmtree(state_dir)
    return out


def bloom_ab_point(spark, n_docs: int, reps: int = 3) -> dict:
    """Contamination-gate A/B at a large probe set: the exact
    set-broadcast form vs the Bloom bitmap on the same corpus. Probe =
    the first 10% of docs' distinct shingles (grows with the corpus —
    the regime where the broadcast set becomes the bottleneck).
    Reports per-form median seconds, the broadcast payload sizes, and
    the measured false-positive hit excess (claimed ≈ 0.24% at 16
    bits/element, k=4; zero false negatives by construction)."""
    import statistics
    import sys

    from pyspark.sql import functions as F

    from flink_assignment_spark.operators.dedup import doc_shingles
    from flink_assignment_spark.operators.gates import (
        bloom_contaminated_counts,
        build_bloom,
        contaminated_counts,
    )

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet")).select(
        "doc_id", "text"
    )
    cut = n_docs // 10
    probe = {
        r.h
        for r in doc_shingles(docs.filter(F.col("doc_id") < cut))
        .select("h")
        .distinct()
        .collect()
    }
    corpus = docs.filter(F.col("doc_id") >= cut)
    bits, n_bits = build_bloom(probe)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    t_exact, t_bloom = [], []
    for _ in range(reps):
        t0 = time.monotonic()
        run(contaminated_counts(corpus, probe))
        t_exact.append(time.monotonic() - t0)
        t0 = time.monotonic()
        run(bloom_contaminated_counts(corpus, bits, n_bits))
        t_bloom.append(time.monotonic() - t0)
    exact_total = contaminated_counts(corpus, probe).agg(
        F.sum("n_contaminated_shingles")
    ).collect()[0][0]
    bloom_total = bloom_contaminated_counts(corpus, bits, n_bits).agg(
        F.sum("n_contaminated_shingles")
    ).collect()[0][0]
    n_scanned = doc_shingles(corpus).count()
    return {
        "n_docs": n_docs,
        "probe_shingles": len(probe),
        "set_payload_mb": round(sys.getsizeof(frozenset(probe)) / 1e6, 1),
        "bloom_payload_mb": round(len(bits) / 1e6, 2),
        "exact_sec_median": round(statistics.median(t_exact), 2),
        "bloom_sec_median": round(statistics.median(t_bloom), 2),
        "exact_hits": int(exact_total),
        "bloom_hits": int(bloom_total),
        "fp_excess_ppm": int((bloom_total - exact_total) * 1_000_000 / max(1, n_scanned)),
    }


def bloom_arrow_share(spark, n_docs: int, reps: int = 5) -> dict:
    """Where does the Bloom gate's time go? (r12 judge ask #5: q123 is
    the slowest registry row at 3x the exact gate q60 — attribute it
    before optimizing.) Four nested plans over the same corpus, each
    timed to the noop sink, differing by exactly one stage:

      scan          spread + project (doc_id, length(text))
      shingle_jvm   + the JVM shingle expression (tokenize → distinct
                    word-3-grams → md5-derived hash60 per shingle)
      arrow         + Arrow transfer of the hash arrays into a pandas
                    UDF that only counts them (no probe math)
      full          + the real vectorized Bloom probe (the q123 gate)

    Successive deltas attribute the cost: expression = shingle_jvm −
    scan, transfer = arrow − shingle_jvm, probe = full − arrow."""
    import statistics

    from pyspark.sql import functions as F

    from flink_assignment_spark.operators.dedup import doc_shingles
    from flink_assignment_spark.operators.gates import (
        bloom_clean_filter,
        build_bloom,
        shingle_hash_array,
    )
    from flink_assignment_spark.operators.spread import spread

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet")).select(
        "doc_id", "text"
    )
    cut = max(20, n_docs // 100)
    probe = {
        r.h
        for r in doc_shingles(docs.filter(F.col("doc_id") < cut))
        .select("h")
        .distinct()
        .collect()
    }
    bits, n_bits = build_bloom(probe)
    corpus = spread(docs.filter(F.col("doc_id") >= cut))

    import pandas as pd  # noqa: F401

    @F.pandas_udf("int")
    def _count_only(shingle_arrays):
        # the Arrow-transfer control: same input column, no probe
        return shingle_arrays.apply(lambda a: 0 if a is None else len(a))

    plans = {
        "scan": corpus.select("doc_id", F.length("text").alias("n")),
        "shingle_jvm": corpus.select(
            "doc_id", F.size(shingle_hash_array(F.col("text"))).alias("n")
        ),
        "arrow": corpus.select(
            "doc_id", _count_only(shingle_hash_array(F.col("text"))).alias("n")
        ),
        "full": corpus.filter(bloom_clean_filter(corpus, bits, n_bits)).select(
            "doc_id"
        ),
    }

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    run(plans["full"])  # warm UDF workers / parquet footers
    med = {}
    for label, df in plans.items():
        secs = []
        for _ in range(reps):
            t0 = time.monotonic()
            run(df)
            secs.append(time.monotonic() - t0)
        med[label] = round(statistics.median(secs), 3)
    return {
        "n_docs": n_docs,
        "probe_shingles": len(probe),
        "median_sec": med,
        "share_sec": {
            "expression": round(med["shingle_jvm"] - med["scan"], 3),
            "arrow_transfer": round(med["arrow"] - med["shingle_jvm"], 3),
            "bloom_probe": round(med["full"] - med["arrow"], 3),
        },
    }


def stream_split_sweep(spark, scales: list[int], n_batches: int = 10) -> dict:
    """Per-batch latency of the incremental split assignment
    (streaming/split_stream.py) as the group-map state grows. The
    generator's docs all have distinct canonical texts, so every
    batch inserts batch-size NEW groups — the worst case for the
    state fold. The claim under test: the insert-only delta-append
    keeps per-batch cost tracking BATCH volume while the group map
    grows 10× (a bucket-swap fold would instead rewrite the whole
    state every batch once new groups hash into all buckets)."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming.split_stream import (
        merge_split_batch,
        read_assignments,
    )

    out = {}
    for n in scales:
        base = f"/tmp/fas_docscale_{n}"
        ensure_documents(spark, n, os.path.join(base, "documents.parquet"))
        docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
        state_dir = f"/tmp/fas_split_stream_{n}"
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        bsz = n // n_batches
        per_batch = []
        for b in range(n_batches):
            batch = docs.filter(
                (F.col("doc_id") >= b * bsz) & (F.col("doc_id") < (b + 1) * bsz)
            )
            t0 = time.monotonic()
            merge_split_batch(batch, b, state_dir)
            per_batch.append(round(time.monotonic() - t0, 2))
        assigned = read_assignments(spark, state_dir)
        out[str(n)] = {
            "per_batch_sec": per_batch,
            "batch_docs": bsz,
            "assigned_rows": assigned.count(),
            "group_rows": spark.read.parquet(
                os.path.join(state_dir, "groups")
            ).count(),
        }
        shutil.rmtree(state_dir)
    return out


def stream_decay_sweep(spark, n_events: int, n_batches: int = 10) -> dict:
    """Per-batch latency of the incremental decayed-activity fold
    (streaming/decay_stream.py) as batches stream through. The claim
    under test: per-batch cost tracks BATCH volume, not accumulated
    history — the state is per-(user, day) counts (bounded by
    users × horizon), the fold rewrites only the touched buckets, and
    the read-side scoring is deferred entirely. Batches are in event
    order, so later batches add new days to existing users — the
    steady-state shape."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming.decay_stream import (
        merge_decay_batch,
        read_decay,
    )

    base = f"/tmp/fas_scale_{n_events}"
    ensure_events(spark, n_events, os.path.join(base, "events.parquet"))
    ev = spark.read.parquet(os.path.join(base, "events.parquet"))
    state_dir = f"/tmp/fas_decay_stream_{n_events}"
    if os.path.exists(state_dir):
        shutil.rmtree(state_dir)
    bsz = n_events // n_batches
    per_batch = []
    for b in range(n_batches):
        batch = ev.filter(
            (F.col("event_id") >= b * bsz) & (F.col("event_id") < (b + 1) * bsz)
        )
        t0 = time.monotonic()
        merge_decay_batch(batch, b, state_dir)
        per_batch.append(round(time.monotonic() - t0, 2))
    t0 = time.monotonic()
    n_users = read_decay(spark, state_dir, "2024-03-01").count()
    read_sec = round(time.monotonic() - t0, 2)
    state_rows = spark.read.parquet(os.path.join(state_dir, "counts")).count()
    shutil.rmtree(state_dir)
    return {
        "per_batch_sec": per_batch,
        "batch_events": bsz,
        "state_rows": state_rows,
        "users": n_users,
        "read_score_sec": read_sec,
    }


def stream_ssjoin_sweep(spark, n_docs: int, n_batches: int = 10) -> dict:
    """Per-batch latency of the incremental set-similarity join
    (streaming/ssjoin_stream.py) as the postings index grows. The
    honest expectation is NOT flat: each batch probes its shingles
    against every colliding posting accumulated so far, so per-batch
    cost tracks COLLIDING-POSTING volume (output-bound, like the
    linkage stream) — the sweep records per-batch seconds alongside
    the cumulative pair count so reviewers can see which it tracks."""
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming.ssjoin_stream import (
        merge_ssjoin_batch,
        read_ssjoin_pairs,
    )

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    state_dir = f"/tmp/fas_ssjoin_stream_{n_docs}"
    if os.path.exists(state_dir):
        shutil.rmtree(state_dir)
    bsz = n_docs // n_batches
    per_batch, pair_growth = [], []
    for b in range(n_batches):
        batch = docs.filter(
            (F.col("doc_id") >= b * bsz) & (F.col("doc_id") < (b + 1) * bsz)
        )
        t0 = time.monotonic()
        merge_ssjoin_batch(batch, b, state_dir, threshold=0.5)
        per_batch.append(round(time.monotonic() - t0, 2))
        pair_growth.append(
            read_ssjoin_pairs(spark, state_dir).count()
        )
    postings = spark.read.parquet(os.path.join(state_dir, "postings")).count()
    shutil.rmtree(state_dir)
    return {
        "per_batch_sec": per_batch,
        "batch_docs": bsz,
        "cumulative_pairs": pair_growth,
        "postings_rows": postings,
    }


def split_file_growth_sweep(
    spark, n_docs: int, n_batches: int = 100, compact_every: int = 0
) -> dict:
    """Long-horizon trickle replay of the split-assignment stream:
    ``n_batches`` small batches (the months-of-operation shape), with
    the GROUP-MAP FILE COUNT recorded per batch alongside latency.
    The delta-append fold adds ~one file per touched bucket per batch
    — uniformly-hashed trickle batches touch most of the 64 buckets,
    so the file count grows ~linearly with batches and every probe
    join must LIST (and read footers of) all of them: the claim under
    test is where that listing cost starts to show and what
    compaction cadence (``compact_every``) flattens it."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from flink_assignment_spark.streaming.split_stream import (
        compact_groups,
        merge_split_batch,
        read_assignments,
    )

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    state_dir = f"/tmp/fas_split_files_{n_docs}_{compact_every}"
    if os.path.exists(state_dir):
        shutil.rmtree(state_dir)
    bsz = max(1, n_docs // n_batches)
    curve = []
    n_compactions = 0
    for b in range(n_batches):
        batch = docs.filter(
            (F.col("doc_id") >= b * bsz) & (F.col("doc_id") < (b + 1) * bsz)
        )
        t0 = time.monotonic()
        merge_split_batch(batch, b, state_dir)
        elapsed = round(time.monotonic() - t0, 2)
        if compact_every and (b + 1) % compact_every == 0:
            compact_groups(spark, state_dir)
            n_compactions += 1
        n_files = len(
            glob.glob(os.path.join(state_dir, "groups", "**", "*.parquet"),
                      recursive=True)
        )
        curve.append({"batch": b, "sec": elapsed, "group_files": n_files})
    assigned_rows = read_assignments(spark, state_dir).count()
    shutil.rmtree(state_dir)

    def med(vals):
        s = sorted(vals)
        return s[len(s) // 2]

    decile = max(1, n_batches // 10)
    return {
        "n_docs": n_docs,
        "n_batches": n_batches,
        "batch_docs": bsz,
        "compact_every": compact_every,
        "n_compactions": n_compactions,
        "assigned_rows": assigned_rows,
        "files_at": {
            str(p): curve[p - 1]["group_files"]
            for p in (10, 25, 50, 75, 100)
            if p <= n_batches
        },
        "sec_first_decile_median": med([c["sec"] for c in curve[:decile]]),
        "sec_last_decile_median": med([c["sec"] for c in curve[-decile:]]),
        "curve_every_10": [c for c in curve if (c["batch"] + 1) % 10 == 0],
    }


def bm25_point(spark, n_docs: int, reps: int = 3) -> dict:
    """BM25 scaling point: train-and-score (the q110 shape) vs the
    frozen-stats narrow-map scorer on the same synthetic corpus. The
    synthetic token space is generated (``w<num>``), so the probe set
    is derived from the corpus itself — the three highest-df tokens
    plus the token whose df is closest to 1% of docs (the same
    rare-vs-common contrast the q110 probe has). Claims under test:
    both forms scale linearly in corpus size, and the frozen scorer
    (zero shuffle, zero driver scalars at score time) is the cheaper
    steady-state deployment once stats are exported."""
    import statistics

    from pyspark.sql import functions as F

    from flink_assignment_spark.functions.text import tokens
    from flink_assignment_spark.operators.retrieval import (
        bm25_scores,
        export_bm25_stats,
        score_with_frozen_bm25,
    )

    base = f"/tmp/fas_docscale_{n_docs}"
    ensure_documents(spark, n_docs, os.path.join(base, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet")).select(
        "doc_id", "text"
    )
    dfs = (
        docs.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count_distinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "t")
    )
    top = [r["t"] for r in dfs.limit(3).collect()]
    target = max(1, n_docs // 100)
    # exclude the already-picked terms: on near-uniform df (this
    # synthetic corpus) the nearest-to-target pick would otherwise
    # duplicate a top term, and a duplicated probe double-counts in
    # the frozen form's fixed-order fold (batch isin() dedups)
    rare = (
        dfs.filter(~F.col("t").isin(*top))
        .withColumn("gap", F.abs(F.col("df") - F.lit(target)))
        .orderBy("gap", "t")
        .limit(1)
        .collect()[0]["t"]
    )
    probe = tuple(top + [rare])

    def timed(fn):
        secs = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn().write.format("noop").mode("overwrite").save()
            secs.append(time.monotonic() - t0)
        return round(statistics.median(secs), 2), [round(s, 2) for s in secs]

    batch_med, batch_reps = timed(lambda: bm25_scores(docs, probe))
    spark.catalog.clearCache()  # bm25_scores caches its tf aggregate
    t0 = time.monotonic()
    stats = export_bm25_stats(docs, probe)
    export_sec = round(time.monotonic() - t0, 2)
    frozen_med, frozen_reps = timed(lambda: score_with_frozen_bm25(docs, stats, probe))
    matched = score_with_frozen_bm25(docs, stats, probe).count()
    return {
        "n_docs": n_docs,
        "probe": list(probe),
        "matched_docs": matched,
        "batch_sec": batch_med,
        "batch_reps": batch_reps,
        "export_sec": export_sec,
        "frozen_sec": frozen_med,
        "frozen_reps": frozen_reps,
        "reps": reps,
    }


def ensure_embeddings(spark, n_vecs: int, path: str) -> None:
    """64-dim embeddings with 10 label clusters, all id-derived
    JVM-side (no RNG state): vector i = a label-anchor direction plus
    per-id pseudo-noise, so kNN neighborhoods are label-coherent (the
    purity report is non-degenerate) and per-label counts are balanced
    at every scale. Values land in [-1, 1]; constants stay small
    enough that ANSI-mode bigint arithmetic cannot overflow."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    label = (F.col("id") % 10).cast("int")
    dims = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: (
            # label anchor: ±0.8 pattern per (label, dim)
            F.when((label * 7 + d * 13) % 10 < 5, F.lit(0.8)).otherwise(F.lit(-0.8))
            # id noise: uniform-ish in [-0.45, 0.45)
            + (((F.col("id") * 7919 + d * 104729) % 9001) / 10000.0 - 0.45)
        ).cast("float"),
    )
    spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), dims.alias("embedding"), label.alias("label")
    ).write.mode("overwrite").parquet(path)


def semantic_probe_sweep(
    spark, n_corpus: int, probe_sizes: list[int], reps: int = 3
) -> dict:
    """semantic_contamination wall time vs PROBE size over a fixed
    corpus — the round-12 block-fold's scaling evidence. Claims under
    test: (1) time grows ~linearly in probe rows (the O(N·|probe|)
    scoring dominates) with NO cliff at the old 65,536-row cap, and
    (2) at equal probe size, folding many small blocks matches one
    larger block (the running max adds nothing measurable), so the
    per-task memory bound is free.

    one_block is only run for probes ≤ 16,384: a single block's
    accumulator is (arrow_batch × |probe|) float64 — 10k × 262k is a
    21 GB per-task matrix, which is exactly the degeneration the
    4,096-row fold exists to prevent (the fold holds it at ~335 MB
    regardless of probe size), so the unfolded form past that point
    measures swap, not compute."""
    import statistics

    from flink_assignment_spark.operators.similarity import semantic_contamination

    base = f"/tmp/fas_embscale_{n_corpus + max(probe_sizes)}"
    ensure_embeddings(
        spark, n_corpus + max(probe_sizes), os.path.join(base, "embeddings.parquet")
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    corpus = emb.filter(F.col("vec_id") < n_corpus).cache()
    corpus.count()
    out = {"n_corpus": n_corpus, "points": []}
    for n_probe in probe_sizes:
        probes = emb.filter(
            (F.col("vec_id") >= n_corpus) & (F.col("vec_id") < n_corpus + n_probe)
        )
        configs = [("folded_4k_blocks", 4096)]
        if n_probe <= 16_384:
            configs.insert(0, ("one_block", n_probe))
        times = {}
        for label, block in configs:
            secs = []
            for _ in range(reps):
                t0 = time.monotonic()
                semantic_contamination(
                    corpus, probes, 0.5, max_probe_block=block,
                    max_probe_total=max(probe_sizes) + 1,
                ).agg({"max_cos": "max"}).collect()
                secs.append(round(time.monotonic() - t0, 2))
            times[label] = round(statistics.median(secs), 2)
        out["points"].append({"n_probe": n_probe, **times})
    corpus.unpersist()
    return out


def knn_purity_ab(spark, n_vecs: int, reps: int = 3) -> dict:
    """Exact-kNN label-purity A/B (the q113 shape): the per-group
    top-k-candidate kernel (emit N·blocks·k candidate rows with the
    provably-sufficient 2e-6 slack band) vs the naive form that emits
    every scored pair (N²/2 rows) into the global ranking window.
    Claim under test: both are exact and agree row-for-row, but the
    candidate kernel's emission — and therefore the window input —
    grows linearly in N while the naive form grows quadratically."""
    import statistics

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from flink_assignment_spark.operators.similarity import (
        cosine_neardup_pairs,
        knn_label_purity,
    )

    base = f"/tmp/fas_vecscale_{n_vecs}"
    ensure_embeddings(spark, n_vecs, os.path.join(base, "embeddings.parquet"))
    vectors = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    k = 5

    def naive():
        pairs = cosine_neardup_pairs(vectors, threshold=-2.0)
        sym = pairs.select(
            F.col("vec_a").alias("query_id"),
            F.col("vec_b").alias("neighbor_id"),
            "cos_sim",
        ).unionByName(
            pairs.select(
                F.col("vec_b").alias("query_id"),
                F.col("vec_a").alias("neighbor_id"),
                "cos_sim",
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        topk = sym.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
        labels = vectors.select("vec_id", "label")
        nb = topk.join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "nb_label"
            ),
            "neighbor_id",
        )
        votes = nb.groupBy("query_id", "nb_label").agg(F.count("*").alias("cnt"))
        wv = Window.partitionBy("query_id").orderBy(F.desc("cnt"), F.asc("nb_label"))
        maj = (
            votes.withColumn("r", F.row_number().over(wv))
            .filter(F.col("r") == 1)
            .select("query_id", F.col("nb_label").alias("maj_label"))
        )
        own = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
            "label", "own_label"
        )
        return (
            maj.join(own, "query_id")
            .groupBy(F.col("own_label").alias("label"))
            .agg(
                F.count("*").alias("n_vecs"),
                F.sum(
                    F.when(F.col("maj_label") == F.col("own_label"), 1).otherwise(0)
                ).alias("n_agree"),
            )
            .withColumn(
                "purity",
                F.round(
                    F.col("n_agree").cast("double") / F.col("n_vecs").cast("double"), 6
                ),
            )
        )

    def timed(fn):
        secs = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn().write.format("noop").mode("overwrite").save()
            secs.append(time.monotonic() - t0)
        return round(statistics.median(secs), 2), [round(s, 2) for s in secs]

    topk_med, topk_reps = timed(lambda: knn_label_purity(vectors, k=k))
    naive_med, naive_reps = timed(naive)
    a = sorted(map(tuple, knn_label_purity(vectors, k=k).collect()))
    b = sorted(map(tuple, naive().collect()))
    return {
        "n_vecs": n_vecs,
        "k": k,
        "topk_kernel_sec": topk_med,
        "topk_kernel_reps": topk_reps,
        "naive_allpairs_sec": naive_med,
        "naive_allpairs_reps": naive_reps,
        "results_identical": a == b,
        "mean_purity": round(sum(r[3] for r in a) / len(a), 4) if a else None,
        "reps": reps,
    }



def linkage_sweep(spark, scales: list[int], reps: int = 3) -> dict:
    """FastSS fuzzy-linkage scaling points: N zero-padded identifier
    names (the customer-name shape q125 runs on), timed end-to-end
    through operators.linkage.fuzzy_pairs_lev1. Pair density grows
    ~log N per name in this id space (one lev-1 pair per agreeing
    digit-neighborhood), so sec/name creeping up WITH pairs/name flat
    is data shape, not a regression; the candidate join itself is one
    shuffle on the variant key."""
    import time as _t

    from pyspark.sql import functions as F

    from flink_assignment_spark.operators.linkage import fuzzy_pairs_lev1

    out = {}
    for n in scales:
        names = spark.range(n).select(
            F.col("id").alias("rid"),
            F.concat(
                F.lit("Entity#"), F.lpad(F.col("id").cast("string"), 9, "0")
            ).alias("name"),
        )
        secs, pairs = [], None
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = _t.time()
            pairs = fuzzy_pairs_lev1(names, "rid", "name").count()
            secs.append(_t.time() - t0)
        secs.sort()
        med = secs[len(secs) // 2]
        out[n] = {
            "sec_median": round(med, 2),
            "sec_min": round(secs[0], 2),
            "pairs": pairs,
            "pairs_per_name": round(pairs / n, 2),
            "us_per_name": round(med / n * 1e6, 1),
        }
        print(f"  linkage n={n}: {med:.2f}s pairs={pairs}", flush=True)
    return out



def pq_sweep(spark, scales: list[int], reps: int = 3) -> dict:
    """PQ ANN scaling points on the synthetic embedding corpus: encode
    cost, ADC shortlist probe cost (20 queries against the compressed
    codes), exact-re-rank end-to-end cost, and recall@5 vs the exact
    blocked top-k. The claim under measurement: probe cost scales with
    the CODE scan (16 bytes/vector), not the float corpus, while the
    exact phase stays |Q| x shortlist."""
    import time as _t

    from pyspark.sql import functions as F

    from flink_assignment_spark.operators.similarity import (
        cosine_topk,
        pq_encode,
        pq_probe,
        pq_topk,
        pq_train,
    )

    out = {}
    for n in scales:
        path = f"/tmp/fas_embscale_{n}"
        ensure_embeddings(spark, n, path)
        emb = spark.read.parquet(path)
        q = emb.filter(F.col("vec_id") < 20)
        t0 = _t.time()
        cb = pq_train(emb)
        train_s = _t.time() - t0
        t0 = _t.time()
        codes = pq_encode(emb, cb).persist()
        codes.count()
        encode_s = _t.time() - t0
        probe_s, e2e_s = [], []
        for _ in range(reps):
            t0 = _t.time()
            pq_probe(q, cb, codes, 50).count()
            probe_s.append(_t.time() - t0)
            t0 = _t.time()
            approx = pq_topk(q, emb, k=5, codebooks=cb, codes=codes)
            got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
            e2e_s.append(_t.time() - t0)
        exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(q, emb, k=5).collect()}
        out[n] = {
            "train_s": round(train_s, 2),
            "encode_s": round(encode_s, 2),
            "adc_probe_s": round(sorted(probe_s)[len(probe_s) // 2], 2),
            "e2e_s": round(sorted(e2e_s)[len(e2e_s) // 2], 2),
            "recall_at_5": round(len(got & exact) / len(exact), 3),
        }
        codes.unpersist()
        print(f"  pq n={n}: {out[n]}", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--scales", type=int, nargs="+", default=[100_000, 1_000_000, 10_000_000]
    )
    ap.add_argument(
        "--doc-scales", type=int, nargs="+", default=[5_000, 50_000, 500_000]
    )
    ap.add_argument(
        "--doc-queries",
        nargs="+",
        default=[
            "q16_dedup_minhash_lsh",
            "q29_dedup_clusters",
            "q66_sequence_packing",
            "q68_chunk_dedup",
            "q73_lm_score",
            "q78_shingle_novelty",
            "q83_pipeline_e2e",
        ],
    )
    ap.add_argument(
        "--reps",
        type=int,
        default=3,
        help="repetitions per (query, scale); median reported (single-run "
        "noise on this harness is up to ±2x)",
    )
    ap.add_argument(
        "--n-batches", type=int, default=10,
        help="micro-batches per scale in the stream sweeps",
    )
    ap.add_argument(
        "--compact-every", type=int, default=0,
        help="run detector compact_state every N batches in the "
        "stream-lsh sweep (0 = never)",
    )
    ap.add_argument(
        "--substring-family", type=int, metavar="N_DOCS",
        help="run ONLY the q88/q95/q104 shared-index family point at "
        "N_DOCS documents (shared vs independent index builds)",
    )
    ap.add_argument(
        "--hh-ab", type=int, metavar="N_DOCS",
        help="run ONLY the q92 heavy-hitters tokenize A/B at N_DOCS "
        "(persisted toks= vs two narrow scans)",
    )
    ap.add_argument(
        "--bm25", type=int, metavar="N_DOCS",
        help="run ONLY the BM25 scaling point at N_DOCS (train-and-"
        "score vs frozen-stats narrow-map scorer)",
    )
    ap.add_argument(
        "--knn-purity", type=int, nargs="+", metavar="N_VECS",
        help="run ONLY the q113 kNN-purity kernel A/B at each N_VECS "
        "(per-group top-k candidate emission vs naive all-pairs)",
    )
    ap.add_argument(
        "--stream-spans", type=int, metavar="N_DOCS",
        help="run ONLY the streamed stride-1 span reader sweep at "
        "N_DOCS (10-batch in-order replay + batch parity)",
    )
    ap.add_argument(
        "--stream-lsh",
        action="store_true",
        help="run ONLY the streaming-LSH per-batch latency sweep "
        "(10 micro-batches per scale, scales from --doc-scales)",
    )
    ap.add_argument(
        "--stream-simhash",
        action="store_true",
        help="run ONLY the streaming-SimHash per-batch latency sweep",
    )
    ap.add_argument(
        "--stream-cc",
        action="store_true",
        help="run ONLY the incremental connected-components sweep "
        "(pair counts from --doc-scales)",
    )
    ap.add_argument(
        "--stream-split",
        action="store_true",
        help="run ONLY the incremental split-assignment sweep "
        "(doc counts from --doc-scales)",
    )
    ap.add_argument(
        "--stream-decay", type=int, metavar="N_EVENTS",
        help="run ONLY the incremental decay-fold per-batch sweep at "
        "N_EVENTS (expect flat per-batch cost + deferred read scoring)",
    )
    ap.add_argument(
        "--stream-ssjoin", type=int, metavar="N_DOCS",
        help="run ONLY the incremental set-similarity-join sweep at "
        "N_DOCS (expect collision/output-bound per-batch cost)",
    )
    ap.add_argument(
        "--semantic-probe", type=int, nargs="+", metavar="N_PROBE",
        help="run ONLY the semantic-contamination probe-size sweep "
        "(one-block vs folded-4k-blocks per size)",
    )
    ap.add_argument(
        "--semantic-corpus", type=int, default=25_000,
        help="corpus rows for --semantic-probe (time scales as "
        "corpus x probe; the probe-size LINEARITY claim is "
        "corpus-size-independent)",
    )
    ap.add_argument(
        "--split-files", type=int, metavar="N_DOCS",
        help="run ONLY the split-stream file-growth trickle sweep "
        "(100 small batches; pair with --compact-every, shared with "
        "the stream-lsh sweep)",
    )
    ap.add_argument(
        "--bloom-ab", type=int, metavar="N_DOCS",
        help="run ONLY the contamination-gate A/B at N_DOCS "
        "(exact set broadcast vs Bloom bitmap)",
    )
    ap.add_argument(
        "--bloom-arrow", type=int, metavar="N_DOCS",
        help="run ONLY the Bloom-gate cost attribution at N_DOCS "
        "(scan / shingle expression / Arrow transfer / probe shares)",
    )
    ap.add_argument(
        "--linkage", type=int, nargs="+", metavar="N_NAMES",
        help="run ONLY the FastSS fuzzy-linkage scaling points at "
        "each N_NAMES (variant equi-join + levenshtein verify)",
    )
    ap.add_argument(
        "--pq", type=int, nargs="+", metavar="N_VECS",
        help="run ONLY the PQ ANN scaling points at each N_VECS "
        "(train/encode/ADC-probe/e2e + recall@5 vs exact)",
    )
    args = ap.parse_args()

    from flink_assignment_spark.queries.synthetic import REGISTRY  # noqa: F401
    from flink_assignment_spark.session import get_spark

    spark = get_spark("fas-bench-scaling")

    if args.pq:
        print(
            json.dumps(
                {
                    "metric": "PQ ANN scaling points",
                    "sweep": pq_sweep(spark, args.pq, reps=args.reps),
                }
            )
        )
        return
    if args.linkage:
        print(
            json.dumps(
                {
                    "metric": "fuzzy-linkage (lev<=1) scaling points",
                    "sweep": linkage_sweep(spark, args.linkage, reps=args.reps),
                }
            )
        )
        return
    if args.semantic_probe:
        print(
            json.dumps(
                {
                    "metric": "semantic_contamination probe-size sweep (block fold)",
                    "sweep": semantic_probe_sweep(
                        spark, args.semantic_corpus, args.semantic_probe,
                        reps=args.reps,
                    ),
                }
            )
        )
        return
    if args.split_files:
        print(
            json.dumps(
                {
                    "metric": "split-stream group-map file growth (trickle)",
                    "sweep": split_file_growth_sweep(
                        spark, args.split_files, compact_every=args.compact_every
                    ),
                }
            )
        )
        return
    if args.substring_family:
        print(
            json.dumps(
                {
                    "metric": "q88/q95/q104 shared substring index vs independent",
                    "family": substring_family_point(
                        spark, args.substring_family, reps=args.reps
                    ),
                }
            )
        )
        return
    if args.hh_ab:
        print(
            json.dumps(
                {
                    "metric": "q92 heavy-hitters persisted-toks A/B",
                    "hh_ab": heavy_hitters_toks_ab(spark, args.hh_ab, reps=args.reps),
                }
            )
        )
        return
    if args.bm25:
        print(
            json.dumps(
                {
                    "metric": "BM25 train-and-score vs frozen-stats scorer",
                    "bm25": bm25_point(spark, args.bm25, reps=args.reps),
                }
            )
        )
        return
    if args.knn_purity:
        print(
            json.dumps(
                {
                    "metric": "q113 kNN-purity top-k kernel vs naive all-pairs",
                    "points": [
                        knn_purity_ab(spark, n, reps=args.reps)
                        for n in args.knn_purity
                    ],
                }
            )
        )
        return
    if args.stream_spans:
        print(
            json.dumps(
                {
                    "metric": "streamed stride-1 span reader per-batch latency",
                    "stream_spans": stream_spans_sweep(
                        spark, args.stream_spans, n_batches=args.n_batches
                    ),
                }
            )
        )
        return
    if args.stream_lsh:
        print(
            json.dumps(
                {
                    "metric": "streaming-LSH per-batch latency vs corpus state",
                    "stream_lsh": stream_lsh_sweep(
                        spark,
                        args.doc_scales,
                        n_batches=args.n_batches,
                        compact_every=args.compact_every,
                    ),
                }
            )
        )
        return
    if args.stream_simhash:
        print(
            json.dumps(
                {
                    "metric": "streaming-SimHash per-batch latency vs corpus state",
                    "stream_simhash": stream_simhash_sweep(spark, args.doc_scales),
                }
            )
        )
        return
    if args.stream_cc:
        print(
            json.dumps(
                {
                    "metric": "incremental-CC per-batch latency vs mapping state",
                    "stream_cc": stream_cc_sweep(spark, args.doc_scales),
                }
            )
        )
        return
    if args.stream_split:
        print(
            json.dumps(
                {
                    "metric": "incremental split-assignment per-batch latency vs group state",
                    "stream_split": stream_split_sweep(
                        spark, args.doc_scales, n_batches=args.n_batches
                    ),
                }
            )
        )
        return
    if args.bloom_ab:
        print(
            json.dumps(
                {
                    "metric": "contamination gate A/B: exact set broadcast vs Bloom bitmap",
                    "bloom_ab": bloom_ab_point(spark, args.bloom_ab, reps=args.reps),
                }
            )
        )
        return
    if args.stream_decay:
        print(
            json.dumps(
                {
                    "metric": "incremental decay-fold per-batch latency",
                    "stream_decay": stream_decay_sweep(
                        spark, args.stream_decay, n_batches=args.n_batches
                    ),
                }
            )
        )
        return
    if args.stream_ssjoin:
        print(
            json.dumps(
                {
                    "metric": "incremental set-similarity-join per-batch latency vs postings state",
                    "stream_ssjoin": stream_ssjoin_sweep(
                        spark, args.stream_ssjoin, n_batches=args.n_batches
                    ),
                }
            )
        )
        return
    if args.bloom_arrow:
        print(
            json.dumps(
                {
                    "metric": "Bloom gate cost attribution: scan / shingle expr / Arrow transfer / probe",
                    "bloom_arrow": bloom_arrow_share(
                        spark, args.bloom_arrow, reps=args.reps
                    ),
                }
            )
        )
        return
    qnames = [
        "q05_tumbling_daily",
        "q07_daily_summary_having",
        "q08_interval_join_weekly",
        "q10_sessionize",
    ]
    results = {}
    for n in args.scales:
        base = f"/tmp/fas_scale_{n}"
        ensure_events(spark, n, os.path.join(base, "events.parquet"))
        results[str(n)] = {qn: _timed_reps(spark, qn, base, n, args.reps) for qn in qnames}

    doc_qnames = args.doc_queries
    doc_results = {}
    for n in args.doc_scales:
        base = f"/tmp/fas_docscale_{n}"
        ensure_documents(spark, n, os.path.join(base, "documents.parquet"))
        doc_results[str(n)] = {
            qn: _timed_reps(spark, qn, base, n, args.reps) for qn in doc_qnames
        }
    print(
        json.dumps(
            {
                "metric": "event-query scaling 1x/10x/100x",
                "results": results,
                "dedup_results": doc_results,
            }
        )
    )


if __name__ == "__main__":
    main()
