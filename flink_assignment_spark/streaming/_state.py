"""Shared plain-parquet state store for foreachBatch sinks.

One copy of the mechanisms every incremental sink here needs: the
at-least-once replay marker, the staging-write → per-partition-swap
fold, the bounded delta append, and the whole-table replace. A fix to
any crash contract lands in every sink at once instead of drifting
across verbatim copies.

The store (the MERGE contract)
------------------------------

Every sink reaches its table state through five module functions,
called as ``_state.fold(...)`` etc. so a crash-injection test can
patch one name:

- ``fold(out, table, part_col, touched)`` — REPLACE the contents of
  the ``touched`` partitions with ``out``'s rows (a partition absent
  from ``out`` becomes empty). ``out`` MUST contain rows only for
  partitions in ``touched``; a violation raises ``ValueError`` before
  anything moves. Equivalent MERGE: delete-where ``part_col IN
  touched`` + insert. Atomicity is per-partition: callers' folds are
  SET UNIONS, so a replay over a partially-applied fold converges, and
  no partition is ever exposed half-written (readers see old or new).
  A fold that leaves no partition at all DROPS the table, so the next
  ``read`` returns ``None`` and the next fold starts fresh.
- ``append(out, table, part_col)`` — INSERT ``out``'s rows. Replays
  may re-append; callers either dedupe at read or pre-anti-join, so
  duplicate rows are tolerated, not deduped here.
- ``read(spark, table, part_col)`` — the table's committed contents
  as a DataFrame (partition column included when ``part_col`` is
  given), or ``None`` when the table has never been committed or was
  drained. The ``_SUCCESS`` marker is the visibility test.
- ``replace(out, table, meta)`` — REPLACE the WHOLE table with
  ``out``'s rows, committing the small ``meta`` dict (e.g. the
  applied-batch marker) atomically WITH the data: after any crash,
  ``read``/``read_meta`` expose the old (data, meta) pair or the new
  one, never a mix. This is the fold for group-cardinality /
  keeper-table state (mixture counts, the dedup-apply kept corpus).
- ``read_meta(table)`` — the ``meta`` dict committed with the
  current table, or ``None`` before any replace.

The sink lifecycle
------------------

Every ``incremental_*`` / ``*_stream`` starter is one call to
``start(stream, sink, applied, checkpoint)``: the writeStream wiring
and the restart rule (an uncheckpointed start over a durable
applied-batch marker is refused) live there and nowhere else.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def applied_batch(state_dir: str, marker: str = "_applied_batch") -> int:
    """Last fully-applied foreachBatch id, or -1. ``marker`` names the
    marker file — sinks whose folds are replay-idempotent scope it per
    query RUN (see :func:`run_marker`) so an uncheckpointed restart,
    whose batch ids reset to 0, cannot be silently masked by a stale
    marker from the previous run (r12 ADVICE: silent data loss in the
    documented blue/green refresh flow)."""
    path = os.path.join(state_dir, marker)
    if os.path.exists(path):
        with open(path) as f:
            return int(f.read().strip() or -1)
    return -1


def commit_marker(
    state_dir: str, batch_id: int, marker: str = "_applied_batch"
) -> None:
    """Atomically record ``batch_id`` as applied (tmp + rename). The
    state dir may not exist yet — a stream whose FIRST batches are
    empty (e.g. a reorder buffer holding everything back) commits
    markers before any fold has created the directory."""
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, marker + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(int(batch_id)))
    os.replace(tmp, os.path.join(state_dir, marker))


def next_run_seq(state_dir: str) -> int:
    """Monotone per-state-dir run counter (tmp + rename), bumped once
    per streaming-query start. Appended result rows carry it so a
    reader can resolve cross-run duplicates LATEST-WINS: an
    uncheckpointed restart reprocesses the source under fresh batch
    ids, re-scoring rows the previous run already appended — batch
    boundaries need not line up, so a (batch_id, …) dedup alone keeps
    both copies (r13 review), and after a blue/green index swap the
    colliding keys would even carry different values. The run counter
    makes "which scoring is current" explicit."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "_run_seq")
    cur = 0
    if os.path.exists(path):
        with open(path) as f:
            cur = int(f.read().strip() or 0)
    nxt = cur + 1
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(nxt))
    os.replace(tmp, path)
    return nxt


def start(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    applied: int,
    checkpoint: str | None,
) -> StreamingQuery:
    """Start ``stream`` into the foreachBatch ``sink``; returns the
    StreamingQuery. The one restart rule for every table-state sink.

    ``applied`` is the sink's replay high-water as the caller reads it
    (marker file, replace meta, or -1 for a per-run marker). A durable
    marker is correct only while batch ids keep increasing, and a
    checkpoint is what preserves that across restarts. Without one, a
    restarted query's batch ids reset to 0 and every batch ≤ the
    marker is silently skipped — data loss with no error — so an
    uncheckpointed start over marked state is refused before any
    stream starts. A FRESH state dir with no checkpoint is fine:
    single-run usage never replays."""
    if checkpoint is None and applied >= 0:
        raise ValueError(
            f"state holds a previous run's applied-batch marker ({applied}); "
            "restarting without a checkpoint would reset batch ids to 0 and "
            "silently skip every batch the marker already covers — pass "
            "checkpoint= (resumes source offsets) or use a fresh state dir"
        )
    w = stream.writeStream.outputMode("append").foreachBatch(sink)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def run_marker(checkpoint: str | None) -> str:
    """Replay-marker name for one streaming-query run.

    With a checkpoint, batch ids survive restarts, so the durable
    default marker is correct across runs (a restarted query resumes
    offsets and fully-applied ids stay skippable). WITHOUT a
    checkpoint, a restarted query's batch ids reset to 0 while a
    durable marker keeps its old high-water value — every post-restart
    batch with id <= marker would be silently skipped. A fresh
    per-run marker makes the uncheckpointed restart reprocess from
    scratch instead; the sinks that use it are replay-idempotent
    (append + read-side dedup, or a deterministic replace fold), so
    reprocessing converges to the same table."""
    if checkpoint is not None:
        return "_applied_batch"
    return f"_applied_batch-run-{uuid.uuid4().hex}"


def _check_int_parts(touched: list[int]) -> None:
    """Fold contract: partition values are plain ints. Int values are
    never escaped in Hive-style directory names, so the fold guards'
    raw ``part=<suffix>`` comparison is value-faithful; strings would
    need Spark's partition-path escaping (special chars, NULL →
    ``__HIVE_DEFAULT_PARTITION__``) undone before comparing."""
    bad = [p for p in touched if not isinstance(p, int) or isinstance(p, bool)]
    if bad:
        raise TypeError(
            f"state partition values must be ints, got {bad!r} — "
            "the fold guard compares raw directory suffixes and only int "
            "values are escape-free in partition paths"
        )


def fold(out: DataFrame, table_path: str, part_col: str, touched: list[int]) -> None:
    """Write ``out`` (which must contain ``part_col``) to a staging
    directory partitioned by ``part_col``, then swap ONLY the touched
    partition directories into ``table_path`` — the bounded-rewrite
    upsert on plain parquet (production: the same MERGE INTO through a
    transactional table format). Crash mid-swap leaves a prefix of the
    partitions updated; callers' folds must be set unions so a replay
    converges.

    A touched partition whose staging output is EMPTY (no src dir) has
    its existing dst directory removed — "touched" means "this is the
    partition's new contents", including contents of zero rows. When
    that leaves no partition at all, the table directory goes too: a
    bare ``_SUCCESS`` directory is unreadable as parquet, so the next
    read would fail instead of returning ``None``. ``_SUCCESS`` is
    removed first, so a crash mid-drop still reads as no table.
    ``touched`` values must be ints (see :func:`_check_int_parts`)."""
    _check_int_parts(touched)
    staging = table_path + ".staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    out.write.partitionBy(part_col).parquet(staging)
    staged = {
        d.split("=", 1)[1]
        for d in os.listdir(staging)
        if d.startswith(f"{part_col}=")
    }
    extra = staged - {str(p) for p in touched}
    if extra:
        shutil.rmtree(staging)
        raise ValueError(
            f"fold contract violation: out contains partitions not in "
            f"touched: {sorted(extra)} (touched={sorted(map(str, touched))})"
        )
    os.makedirs(table_path, exist_ok=True)
    for p in touched:
        src = os.path.join(staging, f"{part_col}={p}")
        dst = os.path.join(table_path, f"{part_col}={p}")
        if os.path.exists(dst):
            shutil.rmtree(dst)
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(staging)
    success = os.path.join(table_path, "_SUCCESS")
    if any(e.startswith(f"{part_col}=") for e in os.listdir(table_path)):
        open(success, "a").close()
    else:
        if os.path.exists(success):
            os.remove(success)
        shutil.rmtree(table_path)


def append(out: DataFrame, table_path: str, part_col: str | None = None) -> None:
    """Append ``out`` as new files (partition-pruned when ``part_col``
    is given) — the O(batch) fold for grow-only state, where the swap's
    full-partition rewrite would degenerate to O(state) once a batch
    touches every partition (the round-6 streaming-LSH finding).
    Production equivalent: a plain transactional INSERT. Duplicate
    rows from replays are the CALLER's contract (pre-anti-join or
    dedupe at read)."""
    w = out.write.mode("append")
    if part_col is not None:
        w = w.partitionBy(part_col)
    w.parquet(table_path)


def recover_replace(table_path: str) -> None:
    """Heal a crash inside :func:`replace`'s two-rename swap. The swap is (1) rename the current table aside to
    ``.old``, (2) rename staging in, (3) delete ``.old`` — so a
    leftover ``.old`` means either the crash hit between (1) and (2)
    (no live table: restore ``.old``) or between (2) and (3) (live
    table present: drop ``.old``)."""
    old = table_path + ".old"
    if not os.path.exists(old):
        return
    if os.path.exists(os.path.join(table_path, "_SUCCESS")):
        shutil.rmtree(old)
    else:
        if os.path.exists(table_path):
            shutil.rmtree(table_path)
        os.rename(old, table_path)


def read(
    spark: SparkSession, table_path: str, part_col: str | None = None
) -> DataFrame | None:
    """The committed table, or ``None`` if never committed or drained."""
    recover_replace(table_path)
    if not os.path.exists(os.path.join(table_path, "_SUCCESS")):
        return None
    reader = spark.read
    if part_col is not None:
        reader = reader.option("basePath", table_path)
    return reader.parquet(table_path)


def replace(out: DataFrame, table_path: str, meta: dict | None = None) -> None:
    """Whole-table replace; ``meta`` commits atomically with the data
    (it travels INSIDE the staging directory, so the pair becomes
    visible in the same rename). ``meta=None`` CARRIES the existing
    meta forward — a replace that doesn't mention meta must not reset
    replay protection. The staging write materializes ``out`` — which
    may still read the table's current directory — BEFORE anything is
    moved."""
    recover_replace(table_path)
    if meta is None:
        meta = read_meta(table_path)
    staging = table_path + ".staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    out.write.parquet(staging)
    if meta is not None:
        with open(os.path.join(staging, "_meta.json"), "w") as f:
            json.dump(meta, f)
    old = table_path + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(table_path):
        os.rename(table_path, old)
    os.rename(staging, table_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def read_meta(table_path: str) -> dict | None:
    """The ``meta`` dict committed by the last :func:`replace`, or ``None``."""
    recover_replace(table_path)
    path = os.path.join(table_path, "_meta.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def meta_applied_batch(table_path: str, key: str = "applied_batch") -> int:
    """The batch id committed under ``key`` in the table's
    :func:`replace` meta, or -1 — the replay marker of the whole-table
    replace sinks (manifest and transitions store it as ``applied``)."""
    meta = read_meta(table_path)
    return -1 if meta is None else int(meta.get(key, -1))
