"""Online bin packing — the streaming twin of q146's FFD assignment.

Offline FFD sorts the WHOLE corpus size-descending; a stream cannot
(later documents are unknown), so the honest streaming form is ONLINE
first-fit: each arriving document goes into the first open bin that
fits, else opens a new bin — the classic online algorithm (first-fit
is 1.7-competitive vs offline optimal; Johnson's bound). The offline
and online assignments legitimately differ; what both guarantee — and
what the tests pin — is the budget ceiling, exactly-once assignment,
overflow flagging, and the first-fit structural invariant (at most
one ≤-half-full bin per shard, which bounds wasted capacity).

State is ONE table, ``packstate/``, hash-shard-partitioned, holding
both row kinds per shard — open-bin rows (``kind='bin'``: bin_id,
cap_left) and assignment rows (``kind='assign'``: doc_id, n_tokens,
bin_id, overflow, batch_id). Keeping them in the SAME partition makes
each shard's fold ATOMIC (one directory swap): there is no crash
window in which a shard's assignments exist but its bin capacities
don't reflect them — the split-table design would leave stale
``cap_left`` after a partial fold and let the next batch OVERFILL a
bin, an exactness violation rather than a mere inefficiency.

Replay: the marker skips fully-applied batches; inside the crash
window, each shard independently converges — a shard already swapped
drops the batch's docs at the strictly-new fence (they're in its
assignment rows) and rewrites itself unchanged; an un-swapped shard
recomputes from its pre-batch state verbatim. Per-batch cost is
O(batch docs + open bins of touched shards).
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.packing import SHARD_SHIFT, FirstFitTree
from . import _state
from ._state import (
    applied_batch,
    commit_marker,
)

N_SHARDS = 16
# bin_id = (shard << SHARD_SHIFT) | local id — shared with the FFD
# operator (operators/packing.py): 2^48 local bins per shard, vs the
# old shard*1e6 scheme that silently collided into the next shard's
# range at ~1M bins (r15 ADVICE). Fields not applicable to a row kind
# hold the -1 SENTINEL rather than NULL: a nullable long column
# round-trips Arrow→pandas as float64, which is exact only below
# 2^53 — composite bin ids exceed that by construction. doc_id -1 is
# reserved (real doc ids are non-negative).
_LOCAL_MASK = (1 << SHARD_SHIFT) - 1
_NA = -1


def _path(state_dir: str) -> str:
    return os.path.join(state_dir, "packstate")


def merge_binpack_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> None:
    """Online-first-fit one micro-batch into the shard bins."""
    if batch_id <= applied_batch(state_dir):
        return
    spark = batch_df.sparkSession

    if n_tokens_col is None:
        base = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        )
    else:
        base = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(n_tokens_col).cast("long").alias("n_tokens"),
        )
    docs = base.withColumn(
        "shard",
        F.pmod(F.xxhash64("doc_id", F.lit("pack")), F.lit(N_SHARDS)).cast("int"),
    ).cache()
    touched = [int(r.shard) for r in docs.select("shard").distinct().collect()]
    if not touched:
        docs.unpersist()
        commit_marker(state_dir, batch_id)
        return

    path = _path(state_dir)
    state = _state.read(spark, path, "shard")
    doc_rows = docs.select(
        "shard",
        F.lit("doc").alias("kind"),
        "doc_id",
        "n_tokens",
        F.lit(_NA).cast("long").alias("bin_id"),
        F.lit(_NA).cast("long").alias("cap_left"),
        F.lit(False).alias("overflow"),
        F.lit(_NA).cast("bigint").alias("batch_id"),
    )
    if state is not None:
        old = state.filter(F.col("shard").isin(touched)).select(
            "shard", "kind", "doc_id", "n_tokens", "bin_id", "cap_left",
            "overflow", "batch_id",
        )
        merged = old.unionByName(doc_rows)
    else:
        merged = doc_rows

    bid = int(batch_id)

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        assigns = pdf[pdf["kind"] == "assign"]
        seen = set(assigns["doc_id"].tolist())
        bins = {
            int(r.bin_id): int(r.cap_left)
            for r in pdf[pdf["kind"] == "bin"].itertuples()
        }
        # strictly-new fence: a replayed doc already assigned in this
        # shard (its swap survived the crash) must not re-pack
        new = pdf[(pdf["kind"] == "doc") & (~pdf["doc_id"].isin(seen))]
        # deterministic ONLINE order within the batch: arrival order is
        # not reproducible across retries, so pin (n_tokens desc, id)
        new = new.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        out_rows = []
        base = shard << SHARD_SHIFT
        # O(log bins) first-fit via the shared segment tree (leaf
        # index == local bin id — locals are allocated contiguously,
        # but tolerate holes by padding them unmatchable)
        # refuse state written under the pre-r16 decimal id scheme
        # (shard*1e6+local): those composites decode to absurd locals
        # under the bit mask and would permanently corrupt the shard
        # (every shard>0 old id has high bits 0 != shard, so this
        # detects every corrupting case; shard-0 ids are identical in
        # both schemes)
        foreign = [b for b in bins if (b >> SHARD_SHIFT) != shard]
        if foreign:
            raise ValueError(
                f"packstate shard {shard} holds bin ids {foreign[:3]} whose "
                "shard bits do not match — state written under the old "
                "decimal bin-id scheme; rebuild the state dir (no "
                "in-place migration)"
            )
        lc = {b & _LOCAL_MASK: cap for b, cap in bins.items()}
        real = set(lc)
        tree = FirstFitTree()
        for i in range(max(lc, default=-1) + 1):
            tree.append(lc.get(i, FirstFitTree._EMPTY))
        for r in new.itertuples():
            nt = int(r.n_tokens)
            if nt > budget:
                local = tree.append(-1)  # full sentinel: nothing joins it
                real.add(local)
                out_rows.append((r.doc_id, nt, base | local, True))
                continue
            local = tree.take(nt)
            if local < 0:
                local = tree.append(budget - nt)
            real.add(local)
            out_rows.append((r.doc_id, nt, base | local, False))
        caps = tree.capacities()
        bins = {base | i: caps[i] for i in range(tree.n) if i in real}
        frames = [
            assigns,
            pd.DataFrame(
                {
                    "shard": shard,
                    "kind": "assign",
                    "doc_id": pd.array([int(t[0]) for t in out_rows], dtype="int64"),
                    "n_tokens": pd.array([t[1] for t in out_rows], dtype="int64"),
                    "bin_id": pd.array([t[2] for t in out_rows], dtype="int64"),
                    "cap_left": pd.array([_NA] * len(out_rows), dtype="int64"),
                    "overflow": [t[3] for t in out_rows],
                    "batch_id": pd.array([bid] * len(out_rows), dtype="int64"),
                }
            ),
            pd.DataFrame(
                {
                    "shard": shard,
                    "kind": "bin",
                    "doc_id": pd.array([_NA] * len(bins), dtype="int64"),
                    "n_tokens": pd.array([_NA] * len(bins), dtype="int64"),
                    "bin_id": pd.array(sorted(bins), dtype="int64"),
                    "cap_left": pd.array(
                        [bins[b] for b in sorted(bins)], dtype="int64"
                    ),
                    "overflow": [False] * len(bins),
                    "batch_id": pd.array([_NA] * len(bins), dtype="int64"),
                }
            ),
        ]
        return pd.concat(
            [f for f in frames if len(f)], ignore_index=True
        )[
            ["shard", "kind", "doc_id", "n_tokens", "bin_id", "cap_left",
             "overflow", "batch_id"]
        ]

    out = merged.groupBy("shard").applyInPandas(
        _fold,
        schema=(
            "shard int, kind string, doc_id long, n_tokens long, "
            "bin_id long, cap_left long, overflow boolean, batch_id bigint"
        ),
    )
    _state.fold(out, path, "shard", touched)
    docs.unpersist()
    commit_marker(state_dir, batch_id)


def read_assignments(spark: SparkSession, state_dir: str) -> DataFrame:
    """All (doc_id, n_tokens, bin_id, overflow) assignments so far."""
    st = _state.read(spark, _path(state_dir), "shard")
    if st is None:
        raise ValueError(f"no binpack state at {state_dir}")
    return st.filter(F.col("kind") == "assign").select(
        "doc_id", "n_tokens", "bin_id", "overflow"
    )


def incremental_binpack(
    docs: DataFrame,
    state_dir: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    checkpoint: str | None = None,
):
    """Start the online packer; returns the StreamingQuery. Restart
    over existing state requires a checkpoint (the shared
    reset-batch-id contract)."""
    return _state.start(
        docs,
        lambda df, bid: merge_binpack_batch(
            df, bid, state_dir, budget, id_col, text_col, n_tokens_col
        ),
        applied_batch(state_dir),
        checkpoint,
    )
