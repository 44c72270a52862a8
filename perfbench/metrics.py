"""What BENCHMARK.json has no field for: the end-to-end metric and
workload each per-layer metric should move, plus the query lists and
a quantile helper shared by ``run.py`` and ``worker.py``.

Workloads, metric names, units and bounds live only in
``BENCHMARK.json``; ``run.py`` reads them from there.
"""

from __future__ import annotations

REF_QUERIES = ("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9")
STREAM_QUERIES = ("q3", "q7", "q8", "q9")


def quantile(xs: list[float], p: float) -> float:
    """Nearest-rank quantile; NaN for no samples."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return xs[min(len(xs) - 1, max(0, int(round(p * (len(xs) - 1)))))]


def _targets() -> dict[str, str]:
    """Per-layer metric name -> the end-to-end metric and workload it
    should move. A "pass" is one Q1-Q9 pass on ref_batch (``batch_s``
    in ``--workload all``) or one backlog drain on ref_stream
    (``stream_drain_eps`` is backlog / pass_s)."""
    out = {
        "session.get_spark_s": "setup_s on every workload",
        "session.warmup_s": "setup_s on every workload",
        "sources.json_scan_s": "pass_s on ref_batch and ref_stream",
        "sources.json_mb_s": "pass_s on ref_batch and ref_stream",
        "functions.scalar_s": "pass_s on ref_batch",
        "operators.followed_by_s": "pass_s on ref_batch; stream latency on ref_stream flat",
        "operators.interval_join_s": "pass_s on ref_batch; stream latency on ref_stream flat",
        "operators.bucketed_interval_join_s": "comparison for operators.interval_join_s (pass_s on ref_batch)",
        "plans.exchanges.ref": "pass_s on ref_batch",
    }
    out.update({f"queries.ref.{q}_s": "pass_s on ref_batch" for q in REF_QUERIES})
    t = "stream latency and pass_s on ref_stream"
    for q in STREAM_QUERIES:
        out.update({
            f"streaming.{q}.batch_p50_s": t,
            f"streaming.{q}.batch_max_s": t,
            f"streaming.{q}.state_rows_max": t + "; ref_stream.peak_rss_mb of --workload all",
            f"streaming.{q}.state_mem_bytes_max": t + "; ref_stream.peak_rss_mb of --workload all",
            f"streaming.{q}.lat_p99_s": t,
        })
    out.update({
        "streaming.lat_p50_s": "stream_lat_p50_s of --workload all (ref_stream)",
        "streaming.backlog_files_max": "stream latency on ref_stream",
        "streaming.rows_dropped_late": "must stay 0: validity of ref_stream",
        "gen.late_p99_s": "validity of ref_stream: how late the feeder ran",
    })
    for wl in ("ref_batch", "ref_stream"):
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_cpu_s", "gc_s", "tasks",
                  "task_skew"):
            out[f"spark.{wl}.{k}"] = f"pass_s on {wl}"
    out.update({
        "baseline.local1.pass_s": "single-threaded reference point for pass_s on ref_batch",
        "baseline.speedup": "pass_s on ref_batch against local[1]",
        "trace.ref_batch.pass_s": "traced pass; compare with the untraced pass_s on ref_batch",
        "trace.ref_batch.overhead_s": "traced minus untraced pass on ref_batch, same session",
        "trace.ref_stream.drain_s": "traced drain; compare with the untraced pass_s on ref_stream",
    })
    return out


TARGETS = _targets()
