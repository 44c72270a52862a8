"""Incremental heavy hitters — the streaming twin of q92.

Misra-Gries is the canonical one-pass frequent-items summary, and MG
summaries are formally MERGEABLE (Agarwal et al. 2012, "Mergeable
Summaries": sum matching counters, then subtract the (k+1)-th largest
counter value from all and drop non-positives — the result is a valid
MG summary of the combined stream with error ≤ N/(k+1)). That makes
the incremental form principled, not a heuristic:

- per micro-batch, the SAME distributed per-partition MG kernel as
  the batch operator runs over the batch's token stream (narrow,
  Arrow-batched); the per-partition summaries — bounded at
  ``phi_inv × n_partitions`` rows — are collected and merged into
  the driver-side global summary, which is then compacted back to
  ``phi_inv`` counters;
- state is ONE json file of ≤ ``phi_inv`` counters plus two scalars
  (cumulative token count ``n_total``, cumulative decrement debt
  ``dec_total`` — the sum of PER-PARTITION kernel decrements, which
  each partition reports through its marker row, and driver-side
  compaction decrements), written atomically via tmp+rename with the
  applied batch id INSIDE the file — replay-idempotent by
  construction.

Error contract carried in the state: for every tracked token,
``counter ≤ true_freq ≤ counter + dec_total``, and any token with
``true_freq > dec_total`` is guaranteed present (no false negative
above the debt). :func:`read_heavy_hitters` therefore reports the
SUPERSET rule — tokens whose upper bound clears the threshold — so
batch q92's exact heavy set is always contained in the streamed
report (pinned in tests/test_streaming_frequent.py). A stream cannot
recount history, so exact counts are what the batch recount pass adds
when one is eventually run over the accumulated corpus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..operators.frequent import DEFAULT_PHI_INV, mg_merge_compact, token_stream
from . import _state


def _state_file(state_dir: str) -> str:
    return os.path.join(state_dir, "mg_state.json")


def _load(state_dir: str) -> dict:
    path = _state_file(state_dir)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"applied_batch": -1, "n_total": 0, "dec_total": 0, "counters": {}}


def _batch_partition_summaries(batch_df: DataFrame, phi_inv: int, text_col: str):
    """Distributed per-partition MG over one micro-batch; returns
    (list[(token, cnt)], batch_token_count, batch_decrements). Bounded
    collect: ≤ phi_inv counters + 1 marker per partition. The marker
    row carries BOTH per-partition scalars — the token total and the
    partition's summed MG decrements. The decrements must reach the
    driver: a token decremented away inside a partition never shows in
    that partition's counters, yet its true corpus count is higher
    than the merged counter by exactly those decrements — dropping
    them breaks the ``counter ≤ true ≤ counter + dec_total`` bracket
    and the superset rule (round-6 advisory, pinned in
    tests/test_streaming_frequent.py)."""

    def mg_kernel(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        n_local = 0
        dec_local = 0
        for pdf in batches:
            vc = pdf["token"].value_counts()
            n_local += int(vc.sum())
            dec_local += mg_merge_compact(counters, vc.items(), phi_inv)
        rows = [(t, int(c), 0) for t, c in counters.items()]
        rows.append((None, n_local, dec_local))
        yield pd.DataFrame(rows, columns=["token", "cnt", "dec"])

    rows = (
        token_stream(batch_df, text_col)
        .mapInPandas(mg_kernel, "token string, cnt long, dec long")
        .collect()
    )
    summaries = [(r["token"], r["cnt"]) for r in rows if r["token"] is not None]
    batch_n = sum(r["cnt"] for r in rows if r["token"] is None)
    batch_dec = sum(r["dec"] for r in rows if r["token"] is None)
    return summaries, batch_n, batch_dec


def merge_frequent_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    phi_inv: int = DEFAULT_PHI_INV,
    text_col: str = "text",
) -> None:
    """Fold one micro-batch's MG summaries into the global summary."""
    os.makedirs(state_dir, exist_ok=True)
    state = _load(state_dir)
    if batch_id <= state["applied_batch"]:
        return
    summaries, batch_n, batch_dec = _batch_partition_summaries(
        batch_df, phi_inv, text_col
    )

    counters = {t: int(c) for t, c in state["counters"].items()}
    # mergeable-summaries sum step + compaction (subtract the (k+1)-th
    # largest) — the same weighted MG step the partition kernel runs
    dec = mg_merge_compact(counters, summaries, phi_inv)

    out = {
        "applied_batch": int(batch_id),
        "n_total": int(state["n_total"]) + int(batch_n),
        # total decrement debt = partition-local decrements (invisible
        # in the merged counters but real undercount) + driver-side
        # compaction — together they bound true - counter
        "dec_total": int(state["dec_total"]) + int(batch_dec) + int(dec),
        "counters": counters,
    }
    tmp = _state_file(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, _state_file(state_dir))


def incremental_heavy_hitters(
    docs: DataFrame,
    state_dir: str,
    phi_inv: int = DEFAULT_PHI_INV,
    text_col: str = "text",
    checkpoint: str | None = None,
):
    """Start the maintenance query; returns the StreamingQuery.
    Restart over existing state requires a checkpoint (``_state.start``)."""
    return _state.start(
        docs,
        lambda df, bid: merge_frequent_batch(df, bid, state_dir, phi_inv, text_col),
        _load(state_dir)["applied_batch"],
        checkpoint,
    )


def read_heavy_hitters(state_dir: str, phi_inv: int | None = None) -> list[dict]:
    """Current heavy-hitter report, superset rule: every token whose
    UPPER count bound (counter + dec_total) clears the N/phi_inv
    threshold — guaranteed to contain the exact heavy set. Each entry
    carries its [lower, upper] count bounds."""
    state = _load(state_dir)
    k = phi_inv if phi_inv is not None else max(len(state["counters"]), 1)
    n, dec = state["n_total"], state["dec_total"]
    return sorted(
        (
            {"token": t, "lower": c, "upper": c + dec}
            for t, c in state["counters"].items()
            if (c + dec) * k > n
        ),
        key=lambda e: -e["lower"],
    )
