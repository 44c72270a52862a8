"""Round-6 hardening contracts: the shared state protocol's crash /
empty-partition edges and the driver-collect refusal guards."""

from __future__ import annotations

import ast
import importlib
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from flink_assignment_spark.streaming import _state
from flink_assignment_spark.streaming._state import recover_replace
from flink_assignment_spark.streaming.dedup_apply import (
    merge_dedup_groups,
    read_kept,
)
from flink_assignment_spark.streaming.lsh_stream import read_candidate_pairs


def test_export_lm_refuses_over_cap(spark):
    """A corpus whose distinct-bigram count exceeds max_lm_entries must
    raise instead of collecting a corpus-scale LM onto the driver."""
    from flink_assignment_spark.operators.lm import export_lm

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2}") for i in range(20)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="max_lm_entries"):
        export_lm(docs, max_lm_entries=5)
    # a permissive cap still trains the same artifact: docs overlap,
    # so distinct bigrams = (w_j, w_{j+1}) for j in 0..20 → 21 entries
    lm_map, fb, v = export_lm(docs, max_lm_entries=1000)
    assert len(lm_map) == 21 and v == 22 and fb < 0


def test_swap_partitions_clears_emptied_partition(spark, tmp_path):
    """A touched partition whose new contents are zero rows must have
    its stale directory removed, not silently left in place; a fold
    that empties EVERY partition drops the table, so it reads as None
    (not as an unreadable bare ``_SUCCESS`` dir) and folds afresh."""
    table = str(tmp_path / "state")
    df = spark.createDataFrame([(0, "a"), (1, "b")], "pt int, val string")
    _state.fold(df, table, "pt", [0, 1])
    assert {r["val"] for r in spark.read.parquet(table).collect()} == {"a", "b"}
    # second fold: partition 0 is touched but now empty, 1 gets "c"
    df2 = spark.createDataFrame([(1, "c")], "pt int, val string")
    _state.fold(df2, table, "pt", [0, 1])
    assert {r["val"] for r in spark.read.parquet(table).collect()} == {"c"}
    # third fold: every touched partition (and so the table) drains
    empty = spark.createDataFrame([], "pt int, val string")
    _state.fold(empty, table, "pt", [0, 1])
    assert _state.read(spark, table, "pt") is None
    _state.fold(df, table, "pt", [0, 1])
    assert {r["val"] for r in _state.read(spark, table, "pt").collect()} == {"a", "b"}


def test_read_candidate_pairs_empty_state(spark, tmp_path):
    """A stream that processed batches but never collided has no
    pairs/ directory — that is an empty result, not an error."""
    out = read_candidate_pairs(spark, str(tmp_path / "lsh_state"))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_a", "doc_b", "est_jaccard"]


def _kept_rows(spark, table):
    return {
        (r["doc_id"], r["n_dups"]) for r in read_kept(spark, table).collect()
    }


def test_dedup_apply_two_rename_swap_recovery(spark, tmp_path):
    """Crash at any point inside the two-rename swap leaves the
    accumulated kept table recoverable (the r5 single-rmtree swap lost
    ALL prior state if the crash landed between rmtree and rename)."""
    table = str(tmp_path / "kept")
    b0 = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, text string"
    )
    merge_dedup_groups(b0, table, batch_id=0)
    assert _kept_rows(spark, table) == {(1, 2), (3, 1)}

    # crash window A: table renamed aside, staging not yet renamed in
    shutil.copytree(table, table + ".old")
    shutil.rmtree(table)
    recover_replace(table)
    assert _kept_rows(spark, table) == {(1, 2), (3, 1)}
    assert not os.path.exists(table + ".old")

    # crash window B: staging renamed in, stale .old not yet deleted
    shutil.copytree(table, table + ".old")
    recover_replace(table)
    assert _kept_rows(spark, table) == {(1, 2), (3, 1)}
    assert not os.path.exists(table + ".old")

    # recovery is exercised on the merge path too, then state advances
    shutil.copytree(table, table + ".old")
    shutil.rmtree(table)
    b1 = spark.createDataFrame([(4, "x")], "doc_id long, text string")
    merge_dedup_groups(b1, table, batch_id=1)
    assert _kept_rows(spark, table) == {(1, 3), (3, 1)}


def test_detector_refold_without_marker_converges(spark, tmp_path):
    """Crash BEFORE the marker commit: the batch is redelivered and
    fully refolded. The bucket upsert is a set union and pairs are
    distinct'd at read, so state and results must converge to the
    single-delivery outcome — the at-least-once contract of the
    shared detector engine."""
    from flink_assignment_spark.streaming.simhash_stream import (
        merge_simhash_batch,
        read_verified_pairs,
    )

    state = str(tmp_path / "det")
    docs = spark.createDataFrame(
        [(i, f"doc body {i % 3} shared words here") for i in range(12)],
        "doc_id long, text string",
    )
    merge_simhash_batch(docs, 0, state)
    rows1 = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(state, "buckets")).collect()
    }
    pairs1 = {tuple(r) for r in read_verified_pairs(spark, state).collect()}
    assert pairs1  # the 3 repeated bodies collide
    os.remove(os.path.join(state, "_applied_batch"))  # crash window
    merge_simhash_batch(docs, 0, state)  # redelivery refolds everything
    rows2 = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(state, "buckets")).collect()
    }
    pairs2 = {tuple(r) for r in read_verified_pairs(spark, state).collect()}
    assert rows1 == rows2 and pairs1 == pairs2


def _marker_file(spark, state_dir):
    _state.commit_marker(state_dir, 0)


def _replace_meta(table=None, key="applied_batch"):
    def write(spark, state_dir):
        path = state_dir if table is None else os.path.join(state_dir, table)
        _state.replace(spark.range(1), path, {key: 0})

    return write


def _frequent_json(spark, state_dir):
    from flink_assignment_spark.streaming.frequent_stream import _load, _state_file

    state = {**_load(state_dir), "applied_batch": 0}
    os.makedirs(state_dir, exist_ok=True)
    with open(_state_file(state_dir), "w") as f:
        json.dump(state, f)


# every starter whose sink keeps a durable replay marker, as (module,
# starter, extra positional args, the sink's own marker writer); args
# that build Columns are a callable, since a Column needs a session
_STARTERS = {
    "anomaly": ("anomaly_stream", "incremental_anomaly", (), _marker_file),
    "binpack": ("binpack_stream", "incremental_binpack", (64,), _marker_file),
    "components": ("components_stream", "incremental_components", (), _marker_file),
    "coreset": ("coreset_stream", "incremental_coreset", (2,), _marker_file),
    "decay": ("decay_stream", "incremental_decay", (), _marker_file),
    "dedup_apply": ("dedup_apply", "incremental_dedup_apply", (), _replace_meta()),
    "drift": (
        "drift_stream", "incremental_drift", ("2024-01-01",), _replace_meta("counts")
    ),
    "erasure": ("erasure_stream", "incremental_tombstones", (), _marker_file),
    "frequent": ("frequent_stream", "incremental_heavy_hitters", (), _frequent_json),
    "gapfill": ("gapfill_stream", "incremental_gapfill", (), _marker_file),
    "generalize": (
        "generalize_stream",
        "incremental_generalize",
        lambda: (["id"], [{"id": F.col("id")}], 2, "id"),
        _marker_file,
    ),
    "linkage": ("linkage_stream", "incremental_linkage", (), _marker_file),
    "lsh": ("lsh_stream", "incremental_lsh_neardup", (), _marker_file),
    "manifest": (
        "manifest_stream",
        "incremental_manifest",
        ("id", ["id"]),
        _replace_meta("manifest", "applied"),
    ),
    "mixture": (
        "mixture_stream",
        "incremental_mixture_rebalance",
        ({"en": 1.0},),
        _replace_meta("counts"),
    ),
    "novelty": ("novelty_stream", "incremental_novelty", (), _marker_file),
    "pagerank": ("pagerank_stream", "incremental_pagerank", ("id",), _marker_file),
    "pit": ("pit_stream", "incremental_pit", ("scd2_state",), _marker_file),
    "privacy": ("privacy_stream", "incremental_kanon", (["id"], 2, "id"), _marker_file),
    "retention": ("retention_stream", "incremental_retention", (), _marker_file),
    "scd2": ("scd2_stream", "incremental_scd2", (), _marker_file),
    "simhash": ("simhash_stream", "incremental_simhash_neardup", (), _marker_file),
    "split": ("split_stream", "incremental_split_assign", (), _marker_file),
    "ssjoin": ("ssjoin_stream", "incremental_ssjoin", (0.5,), _marker_file),
    "tcloseness": (
        "tcloseness_stream",
        "incremental_tcloseness",
        lambda: ("id", ["id"], F.col("id")),
        _marker_file,
    ),
    "transitions": ("transitions_stream", "incremental_transitions", (), _marker_file),
}


@pytest.mark.parametrize("name", sorted(_STARTERS))
def test_every_sink_starter_refuses_uncheckpointed_restart(spark, tmp_path, name):
    """A restarted query without a checkpoint resets batch ids to 0,
    so over a sink's durable marker every batch ≤ it would be silently
    skipped. Each starter must refuse that before any stream starts
    (the ANN/hardneg starters use per-run markers instead; see
    test_streaming_ann)."""
    module, starter, args, write_marker = _STARTERS[name]
    start = getattr(
        importlib.import_module(f"flink_assignment_spark.streaming.{module}"), starter
    )
    state_dir = str(tmp_path / "state")
    write_marker(spark, state_dir)
    args = args() if callable(args) else args
    with pytest.raises(ValueError, match="applied-batch"):
        start(spark.range(1), state_dir, *args)


def test_sink_lifecycle_lives_in_state_start():
    """The writeStream wiring and the restart rule live in one place:
    no streaming module but ``_state`` wires a foreachBatch sink or a
    checkpoint itself, and every starter that goes through
    ``_state.start`` takes the ``checkpoint`` path."""
    stream_dir = os.path.dirname(_state.__file__)
    starters = []
    for fname in sorted(os.listdir(stream_dir)):
        if not fname.endswith(".py") or fname == "_state.py":
            continue
        with open(os.path.join(stream_dir, fname)) as f:
            src = f.read()
        assert ".foreachBatch(" not in src, fname
        assert "checkpointLocation" not in src, fname
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and "_state.start(" in (
                ast.get_source_segment(src, node) or ""
            ):
                starters.append(f"{fname}:{node.name}")
                assert "checkpoint" in [a.arg for a in node.args.args], starters[-1]
    assert len(starters) == 30, starters


def test_compression_band_expr_null_safe(spark):
    """NULL-text rows must not reach the ratio when()s as NULLs that
    fall through to 'ok' (ADVICE r5); covered end-to-end in
    test_compression_ratio.py, pinned here on a minimal frame."""
    from flink_assignment_spark.operators.gates import compression_stats

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    row = compression_stats(df).collect()[0]
    assert row["band"] == "empty"
    assert row["ratio"] is None and row["raw_bytes"] is None


def test_fold_rejects_untouched_partitions(spark, tmp_path):
    """Fold contract (r7 ADVICE): `out` may only contain partitions in
    `touched`. A violation raises ValueError before anything moves —
    neither silently dropping the extra partition's staged rows nor
    silently replacing that partition's live files."""
    table = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 0), (2, 1)], "v long, pt int")
    _state.fold(df, table, "pt", [0, 1])
    bad = spark.createDataFrame([(3, 0), (4, 2)], "v long, pt int")
    with pytest.raises(ValueError, match="fold contract violation"):
        _state.fold(bad, table, "pt", [0])
    # the rejected fold must not have become visible
    got = sorted(tuple(r) for r in _state.read(spark, table, "pt").collect())
    assert got == [(1, 0), (2, 1)]


def test_fold_rejects_non_int_partition_values(spark, tmp_path):
    """Fold contract: partition values must be ints — the fold guard
    compares raw directory suffixes, which is only value-faithful for
    escape-free int values (round-8 advisory)."""
    df = spark.createDataFrame([("a", 1)], "pt string, v long")
    with pytest.raises(TypeError, match="must be ints"):
        _state.fold(df, str(tmp_path / "t"), "pt", ["a"])


def test_replace_meta_none_carries_forward(spark, tmp_path):
    """replace(meta=None) must CARRY the prior meta (round-8 advisory:
    the replace dropped _meta.json, silently resetting replay
    protection after any meta-less replace)."""
    df = spark.createDataFrame([(1,)], "x long")
    table = str(tmp_path / "meta")
    _state.replace(df, table, meta={"applied_batch": 7})
    _state.replace(df, table)  # meta omitted — must not reset
    assert _state.read_meta(table) == {"applied_batch": 7}
    _state.replace(df, table, meta={"applied_batch": 8})  # explicit still wins
    assert _state.read_meta(table) == {"applied_batch": 8}


def test_read_kept_fresh_path_semantics(spark, tmp_path):
    """A never-committed kept table raises a descriptive error, or
    returns a typed empty frame when the caller supplies the schema
    (round-8 advisory: the store's None read surfaced as an opaque
    AttributeError)."""
    fresh = str(tmp_path / "never_committed")
    with pytest.raises(FileNotFoundError, match="never been committed"):
        read_kept(spark, fresh)
    empty = read_kept(spark, fresh, schema="text_hash string, doc_id long, n_dups long")
    assert empty.columns == ["text_hash", "doc_id", "n_dups"]
    assert empty.count() == 0


def test_read_bucket_state_empty_schema_matches_folded(spark, tmp_path):
    """r7 ADVICE: the never-folded fallback must return the SAME
    columns and types as the non-empty path — real key types, the
    payload, and pt — so unions/selects against a fresh state work."""
    from flink_assignment_spark.streaming._detector import (
        merge_detector_batch,
        read_bucket_state,
    )
    from pyspark.sql import functions as F

    empty = read_bucket_state(
        spark,
        str(tmp_path / "never"),
        ["band", "key"],
        key_types=["int", "long"],
        payload_col="sig",
        payload_type="array<int>",
    )
    rows = spark.createDataFrame(
        [(0, 7, 1, [1, 2]), (0, 7, 2, [1, 3])],
        "band int, key long, doc_id long, sig array<int>",
    )
    st = str(tmp_path / "folded")
    merge_detector_batch(
        rows, 0, st, ["band", "key"], "sig", "array<int>",
        score=lambda a, b: F.lit(1.0), score_name="s",
    )
    folded = read_bucket_state(spark, st, ["band", "key"])
    assert empty.count() == 0
    assert dict(empty.dtypes) == dict(folded.dtypes), (
        f"empty={empty.dtypes} folded={folded.dtypes}"
    )
    # and the schemas must union cleanly (the caller operation that broke)
    assert folded.unionByName(empty).count() == folded.count()


def test_bloom_gate_superset_and_fp_bound(spark):
    """The Bloom contamination gate flags EVERY exactly-contaminated
    doc (zero false negatives) with per-doc counts >= the exact ones,
    and the extra (false-positive) shingle hits stay under a loose 2%
    of scanned shingles (theoretical ~0.24% at 16 bits/element, k=4)."""
    from pyspark.sql import functions as F

    from flink_assignment_spark.operators.dedup import doc_shingles
    from flink_assignment_spark.operators.gates import (
        bloom_contaminated_counts,
        build_bloom,
        contaminated_counts,
    )
    from flink_assignment_spark.sources.loaders import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    probe = {
        r.h
        for r in doc_shingles(docs)
        .filter(F.col("doc_id") < 20)
        .select("h")
        .distinct()
        .collect()
    }
    corpus = docs.filter(F.col("doc_id") >= 20)
    exact = {
        r.doc_id: r.n_contaminated_shingles
        for r in contaminated_counts(corpus, probe).collect()
    }
    bits, n_bits = build_bloom(probe)
    assert len(bits) * 8 == n_bits
    bloom = {
        r.doc_id: r.n_contaminated_shingles
        for r in bloom_contaminated_counts(corpus, bits, n_bits).collect()
    }
    assert set(bloom) == set(exact)
    assert all(bloom[d] >= exact[d] for d in exact)  # no false negatives
    flagged_exact = {d for d, c in exact.items() if c > 0}
    flagged_bloom = {d for d, c in bloom.items() if c > 0}
    assert flagged_exact <= flagged_bloom  # flag superset
    total_exact = sum(exact.values())
    total_bloom = sum(bloom.values())
    total_shingles = doc_shingles(corpus).count()
    assert total_bloom - total_exact <= max(1, int(0.02 * total_shingles))


def test_bloom_empty_probe_flags_nothing(spark):
    from flink_assignment_spark.operators.gates import (
        bloom_contaminated_counts,
        build_bloom,
    )

    docs = spark.createDataFrame(
        [(1, "some plain words here repeated words here")],
        "doc_id long, text string",
    )
    bits, n_bits = build_bloom(set())
    out = bloom_contaminated_counts(docs, bits, n_bits).collect()
    assert out[0].n_contaminated_shingles == 0 and not out[0].contaminated


def test_bloom_artifact_save_load_roundtrip(spark, tmp_path):
    """The Bloom gate's (bitmap, n_bits) artifact round-trips
    byte-exactly through storage — completing the save/load trio every
    other frozen index already has — and a loaded artifact gates
    identically to the in-memory one; a truncated file is rejected
    rather than silently probing garbage."""
    import pytest

    from flink_assignment_spark.operators.gates import (
        bloom_contaminated_counts,
        build_bloom,
        load_bloom,
        save_bloom,
    )

    probe = frozenset(range(1_000_000, 1_002_000))
    bloom = build_bloom(probe)
    path = str(tmp_path / "bloom.bin")
    save_bloom(path, bloom)
    loaded = load_bloom(path)
    assert loaded == bloom
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "one two three four five")],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in bloom_contaminated_counts(docs, *bloom).collect())
    b = sorted(tuple(r) for r in bloom_contaminated_counts(docs, *loaded).collect())
    assert a == b
    with open(path, "r+b") as f:
        f.truncate(32)
    with pytest.raises(ValueError, match="corrupt"):
        load_bloom(path)
