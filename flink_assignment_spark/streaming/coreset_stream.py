"""Incremental k-center coreset maintenance — the streaming twin of
q133 (operators/coreset.kcenter_select).

Greedy k-center is offline (every pick needs the global argmax), so
the streaming form is the DOUBLING algorithm (Charikar et al. 1997,
"Incremental clustering and dynamic information retrieval"): maintain
at most ``k`` centers and a threshold radius ``r``; a new point within
``2r`` of a center is absorbed, a farther one becomes a center, and
when the set would exceed ``k`` the radius doubles and centers within
``2r`` of an earlier center merge away. Bounded state — k (id, vector)
rows plus two floats — no matter how many batches stream through.

Micro-batch shape per ``foreachBatch``:

- ONE distributed pass per maintenance round computes every batch
  point's min squared distance to the current centers (the same
  flat-HOF expression the batch operator folds,
  ``_center_d2_expr``), then a bounded distributed TakeOrdered picks
  the farthest uncovered point — never a corpus collect.
- The first batch seeds via the BATCH operator itself
  (``kcenter_select``), so a single-batch stream equals q133
  row-for-row (pinned by tests/test_streaming_coreset.py).
- Rounds either add a center (≤ k total) or raise ``r`` to
  ``max(2r, d_min/2)`` (covering at least the closest uncovered
  point, so the loop terminates in ≤ k + log2(d_max/d_min) rounds).

Coverage accounting is EXPLICIT, not asserted-by-faith: ``cover`` is
the maintained guarantee "every processed point lies within ``cover``
of some CURRENT center". Absorbing a batch costs
``cover = max(cover, 2r)``; a merge round that drops centers adds one
``2r`` hop (a dropped center's points chain through the kept center
that absorbed it). The test suite re-measures the true max
point-to-center distance over everything streamed and asserts it
never exceeds the recorded ``cover`` — the doubling algorithm's
O(OPT) radius guarantee, checked empirically instead of cited.

State under ``state_dir``: ``centers.json`` (atomic tmp+rename
replace: center ids/ranks/pick-radii, repr-precision vectors, ``r``,
``cover``) + the ``_applied_batch`` marker. The fold is a
deterministic replace (same batch ⇒ same state), so the
crash-between-write-and-marker window converges on replay; an
UNCHECKPOINTED restart over existing state is refused
(``_state.start``) — reset batch ids would silently
skip arrivals, the linkage/scd2/gapfill contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.coreset import _center_d2_expr, kcenter_select
from . import _state
from ._state import applied_batch, commit_marker


def _centers_path(state_dir: str) -> str:
    return os.path.join(state_dir, "centers.json")


def _load_state(state_dir: str):
    try:
        with open(_centers_path(state_dir)) as f:
            s = json.load(f)
    except OSError:
        return None
    return s


def _save_state(state_dir: str, centers, r: float, cover: float) -> None:
    os.makedirs(state_dir, exist_ok=True)
    path = _centers_path(state_dir)
    payload = {
        "centers": [
            {"cid": int(c), "rank": int(rk), "radius": rad, "vec": [float(x) for x in v]}
            for c, rk, rad, v in centers
        ],
        "r": float(r),
        "cover": float(cover),
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _min_d2(vec_col, center_vecs):
    exprs = [_center_d2_expr(vec_col, v) for v in center_vecs]
    return exprs[0] if len(exprs) == 1 else F.least(*exprs)


def merge_coreset_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold one micro-batch into the (centers, r, cover) state — see
    the module docstring for the algorithm and coverage contract."""
    from pyspark import StorageLevel

    if batch_id <= applied_batch(state_dir):
        return
    pts = batch_df.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if pts.count() == 0:
            commit_marker(state_dir, batch_id)
            return
        state = _load_state(state_dir)
        if state is None:
            # seed: the batch operator on the first batch — a one-batch
            # stream IS the batch answer
            sel = kcenter_select(pts, k, id_col="cid", vec_col="cv")
            picked = {int(r2.center_id): r2 for r2 in sel.collect()}
            vecs = {
                int(r2.cid): list(r2.cv)
                for r2 in pts.filter(F.col("cid").isin(list(picked))).collect()
            }
            centers = [
                (cid, row.sel_rank, row.radius, vecs[cid])
                for cid, row in sorted(
                    picked.items(), key=lambda kv: kv[1].sel_rank
                )
            ]
            # r seeds at the LAST pick's radius: every seed-batch point
            # is within it of a center (the fold is non-increasing)
            r = next(
                (c[2] for c in reversed(centers) if c[2] is not None), 0.0
            )
            cover = r
            _save_state(state_dir, centers, r, cover)
            commit_marker(state_dir, batch_id)
            return

        centers = [
            (c["cid"], c["rank"], c["radius"], c["vec"]) for c in state["centers"]
        ]
        r, cover = float(state["r"]), float(state["cover"])
        next_rank = max(c[1] for c in centers) + 1
        while True:
            d2 = _min_d2(F.col("cv"), [c[3] for c in centers])
            scored = pts.select("cid", "cv", d2.alias("d2"))
            uncovered = scored.filter(
                F.sqrt(F.col("d2")) > F.lit(2.0 * r)
            )
            far = (
                uncovered.orderBy(F.desc("d2"), F.asc("cid")).limit(1).collect()
            )
            if not far:
                break
            if len(centers) < k:
                row = far[0]
                centers.append(
                    (int(row.cid), next_rank, round(float(row.d2) ** 0.5, 6), list(row.cv))
                )
                next_rank += 1
                continue
            # doubling round: raise r enough to make progress even
            # from r == 0 (d_min/2 covers the closest uncovered point)
            d_min = (
                uncovered.orderBy(F.asc("d2"), F.asc("cid")).limit(1).collect()
            )[0].d2 ** 0.5
            r = max(2.0 * r, d_min / 2.0)
            # merge: keep centers in selection order, drop any within
            # 2r of an already-kept one; dropped centers chain their
            # points one 2r hop through their absorber
            import numpy as np

            kept: list = []
            dropped = 0
            for c in centers:
                cv = np.asarray(c[3], dtype=np.float64)
                if any(
                    float(((np.asarray(kc[3], dtype=np.float64) - cv) ** 2).sum())
                    ** 0.5
                    <= 2.0 * r
                    for kc in kept
                ):
                    dropped += 1
                    continue
                kept.append(c)
            centers = kept
            if dropped:
                cover = cover + 2.0 * r
        cover = max(cover, 2.0 * r)
        _save_state(state_dir, centers, r, cover)
        commit_marker(state_dir, batch_id)
    finally:
        pts.unpersist()


def read_coreset(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current centers — (center_id, sel_rank, radius), the batch
    operator's row shape (radius = the max-min distance at that
    center's pick, None for the seed)."""
    state = _load_state(state_dir)
    if state is None:
        raise ValueError(f"no coreset state at {state_dir}")
    return spark.createDataFrame(
        [(c["cid"], c["rank"], c["radius"]) for c in state["centers"]],
        "center_id long, sel_rank int, radius double",
    )


def coreset_meta(state_dir: str) -> dict:
    """(r, cover, n_centers) — the maintained radius threshold and the
    explicit coverage guarantee the tests re-measure."""
    state = _load_state(state_dir)
    if state is None:
        raise ValueError(f"no coreset state at {state_dir}")
    return {
        "r": float(state["r"]),
        "cover": float(state["cover"]),
        "n_centers": len(state["centers"]),
    }


def incremental_coreset(
    vectors: DataFrame,
    state_dir: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Start the k-center maintenance query; returns the
    StreamingQuery. The fold is convergent but not reprocessable under
    reset batch ids, so a restart over existing state requires a
    checkpoint."""
    return _state.start(
        vectors,
        lambda df, bid: merge_coreset_batch(df, bid, state_dir, k, id_col, vec_col),
        applied_batch(state_dir),
        checkpoint,
    )
