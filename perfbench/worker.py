"""Spark side of the benchmark.

One process: builds a session through ``session.get_spark``, warms it,
prints ``READY`` on stdout (the parent times process start to that
line as one set-up sample), runs its workload, prints ``MEASURED``
once the measured part is over (the parent stops sampling memory
there, so output checks do not count), and writes the measurements as
JSON to ``--out``.

Untraced (``--trace 0``) it runs the one workload named. Traced, with a
Spark event log, it runs the traced suite, the same for both workloads
so that either reports every per-layer metric of ``BENCHMARK.json``:
both workloads in one session with spans around every call into the
package and layer probes, then a ``local[1]`` pass of Q1-Q9 as the
single-threaded baseline. Spans stay in memory and are written out at
the end.

Run it through ``run.py``; it reads the input description that
``run.py`` generated.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import subprocess
import sys
import time
from collections import Counter
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from metrics import REF_QUERIES, STREAM_QUERIES, quantile  # noqa: E402

# ref_batch times at least this many passes, however short --seconds
# is, so that the pass median has samples on both sides. At the
# benchmark's run_seconds this is the whole timed part, so every run
# times the same stretch of the JVM's warm-up.
MIN_PASSES = 5
# Untimed Q1-Q9 passes after the checked (cold) one. Pass times keep
# falling for ten passes and more while the JIT compiles the planning
# and scheduling code that dominates a pass at this input size; the
# first few passes fall steeply, and timing them made the median move
# with how fast each JVM warmed up.
REF_WARM_PASSES = 3
_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench worker +{time.monotonic() - _T0:.1f}s: {msg}", file=sys.stderr, flush=True)


def end_measured() -> None:
    """Tell the parent that the measured part is over."""
    print("MEASURED", flush=True)


class Tracer:
    """In-memory spans: name, start, end, parent id and run id."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.monotonic(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(it):
    yield from it


def start_session(work: str, cpus: int, tracer: Tracer, python_workers: bool, eventlog: str | None):
    from flink_assignment_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
        })
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.warmup"):
        spark.range(1 << 16).selectExpr("sum(id)").collect()
        if python_workers:
            spark.range(4).mapInPandas(_identity, "id long").collect()
    return spark


def _ts_columns_to_micros(df):
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    return df.select(*[
        F.unix_micros(F.col(f.name)).alias(f.name) if isinstance(f.dataType, TimestampType) else F.col(f.name)
        for f in df.schema.fields
    ])


def rows_of(df) -> Counter:
    return Counter(tuple(r) for r in _ts_columns_to_micros(df).collect())


# ------------------------------------------------------------ ref_batch
def ref_query(q: str, commits, geo):
    from flink_assignment_spark.queries import reference as R

    fns = {
        "q1": R.question_one, "q2": R.question_two, "q3": R.question_three,
        "q4": R.question_four, "q5": R.question_five, "q6": R.question_six,
        "q7": R.question_seven, "q9": R.question_nine,
    }
    return R.question_eight(commits, geo) if q == "q8" else fns[q](commits)


def ref_frames(spark, commit_dir: str, geo_dir: str):
    from flink_assignment_spark.sources.loaders import read_commit_geo_json, read_commits_json

    return read_commits_json(spark, commit_dir), read_commit_geo_json(spark, geo_dir)


def ref_pass(spark, inp: dict, tracer: Tracer) -> float:
    t0 = time.monotonic()
    with tracer.span("ref_batch.pass"):
        for q in REF_QUERIES:
            with tracer.span(f"queries.ref.{q}"):
                with tracer.span("sources.read"):
                    commits, geo = ref_frames(spark, inp["commit_dir"], inp["geo_dir"])
                noop(ref_query(q, commits, geo))
    return time.monotonic() - t0


def run_ref_batch(spark, inp: dict, seconds: float, tracer: Tracer, min_passes: int = MIN_PASSES) -> dict:
    """Q1-Q9: a checked cold pass, untimed warm passes, then timed
    passes for ``seconds`` (at least ``min_passes``); the DuckDB check
    runs after them."""
    # check pass first: it also warms code generation for the timed passes
    commits, geo = ref_frames(spark, inp["commit_dir"], inp["geo_dir"])
    got, errors = {}, []
    for q in REF_QUERIES:
        try:
            got[q] = rows_of(ref_query(q, commits, geo))
        except Exception as e:  # a failing query is a counted failure, not a crash
            errors.append(f"{q}: {type(e).__name__}: {e}")
    log("ref_batch check pass done")
    for _ in range(REF_WARM_PASSES):
        ref_pass(spark, inp, Tracer("", False))
    passes = []
    deadline = time.monotonic() + seconds
    while len(passes) < min_passes or time.monotonic() < deadline:
        passes.append(ref_pass(spark, inp, tracer))
    log(f"ref_batch passes {[round(p, 2) for p in passes]}")
    end_measured()
    import oracle  # DuckDB only after the timed passes

    want = oracle.reference_results(inp["commit_glob"], inp["geo_glob"])
    log("ref_batch DuckDB check done")
    bad = sorted(q for q in got if got[q] != want[q])
    return {
        "passes": passes,
        "attempted": len(REF_QUERIES) * (1 + len(passes)),
        "failed": len(errors) + len(bad),
        "errors": errors + [f"{q}: result differs from DuckDB" for q in bad],
    }


# ------------------------------------------------------------ ref_stream
def stream_query(spark, q: str, src_commits: str, src_geo: str):
    from flink_assignment_spark.streaming import queries as S
    from flink_assignment_spark.streaming.sources import read_commit_geo_stream, read_commits_stream

    commits = read_commits_stream(spark, src_commits)
    if q == "q3":
        return S.question_three_stream(commits), "update"
    if q == "q7":
        return S.question_seven_stream(commits), "append"
    if q == "q8":
        return S.question_eight_join_stream(commits, read_commit_geo_stream(spark, src_geo)), "append"
    return S.question_nine_stream(commits), "append"


def start_streams(spark, inp: dict, phase: str, tracer: Tracer) -> dict:
    """The four streaming queries over ``inp[phase]``'s source dirs, each
    with its own checkpoint and memory sink ``<q>_<phase>``."""
    src = inp[phase]
    out = {}
    for q in STREAM_QUERIES:
        with tracer.span(f"streaming.{q}.start"):
            df, mode = stream_query(spark, q, os.path.join(src, "commits"), os.path.join(src, "geo"))
            w = (
                df.writeStream.outputMode(mode).format("memory").queryName(f"{q}_{phase}")
                .option("checkpointLocation", os.path.join(inp["ckpt"], phase, q))
            )
            if phase == "drain":
                w = w.trigger(availableNow=True)
            out[q] = w.start()
    return out


def _progress(sq) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in sq.recentProgress]


def _checkpoint_log(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """From a query's checkpoint: file name -> batch that consumed it
    (all sources), and batch -> time its commit was written."""
    consumed: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(unquote(urlparse(e["path"]).path))
                    consumed[name] = min(e["batchId"], consumed.get(name, e["batchId"]))
    commits = {}
    for f in glob.glob(os.path.join(ckpt, "commits", "*")):
        base = os.path.basename(f)
        if base.isdigit():
            commits[int(base)] = os.stat(f).st_mtime
    return consumed, commits


def _wait_commit(ckpt: str, name: str, after: int, timeout: float) -> bool:
    """Wait until the batch ``after`` batches past the one that consumed
    file ``name`` has committed (a no-data batch that applies the
    watermark the file moved, so append-mode windows are emitted)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        consumed, committed = _checkpoint_log(ckpt)
        if name in consumed and consumed[name] + after in committed:
            return True
        time.sleep(0.1)
    return False


def _check_stream(spark, inp: dict, phase: str) -> list[str]:
    """Each query's final sink contents against the batch query over the
    same input files."""
    from pyspark.sql import functions as F

    src = inp[phase]
    commits, geo = ref_frames(spark, os.path.join(src, "commits"), os.path.join(src, "geo"))
    got = {q: spark.table(f"{q}_{phase}") for q in STREAM_QUERIES}
    got["q3"] = got["q3"].groupBy("ext").agg(F.max("count").alias("count"))
    got["q8"] = (
        got["q8"].groupBy(F.window("joined_ts", "7 days").alias("w"), "continent")
        .agg(F.sum("changes").cast("int").alias("changes"))
        .select(F.col("w.start").alias("window_start"), "continent", "changes")
    )
    return [
        q for q in STREAM_QUERIES
        if rows_of(got[q]) != rows_of(ref_query(q, commits, geo))
    ]


def run_ref_stream(spark, inp: dict, seconds: float, tracer: Tracer) -> dict:
    """``seconds`` only sized the feeder's plan (run.py), so it is unused
    here. The drain is the first thing the four queries run, so it
    includes their first-run cost, as when a stopped job restarts over
    a backlog."""
    # stream execution threads inherit this when their query starts
    spark.sparkContext.setLocalProperty("perfbench.workload", "ref_stream")
    errors: list[str] = []
    bad: set[str] = set()
    # drain: a pre-written backlog, consumed with availableNow
    t0 = time.monotonic()
    with tracer.span("ref_stream.drain"):
        drain = start_streams(spark, inp, "drain", tracer)
        for sq in drain.values():
            sq.awaitTermination(120)
    drain_s = time.monotonic() - t0
    log(f"ref_stream drain {drain_s:.2f}s")
    progress = {q: _progress(sq) for q, sq in drain.items()}
    for q, sq in drain.items():
        if sq.isActive or sq.exception() is not None:
            errors.append(f"{q}: drain did not finish: {sq.exception()}")
            bad.add(q)
            sq.stop()
    # open loop: fresh queries over the live dirs, fed on a fixed schedule
    live = start_streams(spark, inp, "live", tracer)
    interval = inp["interval_s"]
    first_due = time.time() + 0.5
    plan = [
        {"due": first_due + k * interval,
         "moves": [[os.path.join(inp["stage"], d, f), os.path.join(inp["live"], d, f)] for d in ("commits", "geo")]}
        for k, f in enumerate(inp["steps"])
    ]
    plan_path = os.path.join(inp["work"], "plan.json")
    manifest_path = os.path.join(inp["work"], "manifest.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    with tracer.span("ref_stream.open_loop"):
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "feed", "--plan", plan_path, "--manifest", manifest_path]
        )
        try:
            feeder.wait(timeout=len(plan) * interval + 60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        for sq in live.values():
            if sq.isActive:
                sq.processAllAvailable()
        if not _wait_commit(os.path.join(inp["ckpt"], "live", "q7"), inp["steps"][-1], 1, 20):
            errors.append("q7: no batch ran after the final watermark")
    for q, sq in live.items():
        progress[q] = progress[q] + _progress(sq)
        if not sq.isActive or sq.exception() is not None:
            errors.append(f"{q}: query died: {sq.exception()}")
            bad.add(q)
        sq.stop()
    log("ref_stream open loop done")
    end_measured()
    with open(manifest_path) as f:
        manifest = json.load(f)
    # latency per (query, step): due time -> commit of the batch that
    # consumed the step's files, read back from the checkpoint
    lats: dict[str, list[float]] = {}
    backlog_max = 0
    unconsumed = Counter()
    measured = manifest[inp["warm_steps"]:-1]  # the last step is the flush
    landed = sorted(m["landed"] for m in manifest)
    for q in STREAM_QUERIES:
        consumed, committed = _checkpoint_log(os.path.join(inp["ckpt"], "live", q))
        lats[q] = []
        for m in measured:
            names = [os.path.basename(p) for p in m["files"]]
            if q != "q8":
                names = names[:1]  # single-source queries read only commits
            batches = [consumed.get(n) for n in names]
            if None in batches or max(batches) not in committed:
                unconsumed[q] += 1
                continue
            lats[q].append(committed[max(batches)] - m["due"])
        firsts = sorted(consumed.get(os.path.basename(m["files"][0]), 1 << 30) for m in manifest)
        for b, t in committed.items():
            waiting = sum(1 for x in landed if x <= t) - sum(1 for x in firsts if x <= b)
            backlog_max = max(backlog_max, waiting)
    with tracer.span("ref_stream.check"):
        for phase in ("drain", "live"):
            for q in _check_stream(spark, inp, phase):
                errors.append(f"{q}: {phase} result differs from the batch query")
                bad.add(q)
    log("ref_stream checks done")
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0) for ps in progress.values() for p in ps
        for o in p.get("stateOperators", [])
    )
    if dropped:
        errors.append(f"{dropped} rows dropped behind the watermark")
    late = [m["landed"] - m["due"] for m in manifest]
    per_query = len(measured) + 1  # every measured step plus the drain
    failed = sum(per_query if q in bad else unconsumed[q] for q in STREAM_QUERIES) + (1 if dropped else 0)
    return {
        "drain_s": drain_s,
        "backlog_commits": inp["backlog_commits"],
        "lats": [x for q in STREAM_QUERIES for x in lats[q]],
        "lats_by_query": lats,
        "attempted": len(STREAM_QUERIES) * per_query,
        "failed": min(failed, len(STREAM_QUERIES) * per_query),
        "errors": errors,
        "progress": {q: _progress_summary(ps) for q, ps in progress.items()},
        "backlog_files_max": backlog_max,
        "rows_dropped_late": dropped,
        "gen_late_p99_s": quantile(late, 0.99),
    }


def _progress_summary(ps: list[dict]) -> dict:
    durs = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in ps if p.get("numInputRows", 0) > 0]
    ops = [p.get("stateOperators", []) for p in ps]
    return {
        "batch_p50_s": statistics.median(durs) if durs else 0.0,
        "batch_max_s": max(durs, default=0.0),
        "state_rows_max": max((sum(o.get("numRowsTotal", 0) for o in op) for op in ops), default=0),
        "state_mem_bytes_max": max((sum(o.get("memoryUsedBytes", 0) for o in op) for op in ops), default=0),
        "batches": len(ps),
    }


# ------------------------------------------------------------ traced suite
_SCAN_RE = re.compile(r"\(\d+\) Scan (json|parquet)[^\n]*\n(.*?)\n\n", re.S)


def scan_seconds(spark, df, tracer: Tracer, memo: dict) -> float:
    """Time a no-op scan of exactly what ``df``'s plan reads (its scans'
    paths and pruned read schemas): the scan share of a query's span."""
    from flink_assignment_spark.plans.inspect import physical_plan
    from pyspark.sql.types import _parse_datatype_string

    total = 0.0
    for fmt, body in _SCAN_RE.findall(physical_plan(df)):
        loc = re.search(r"Location: \w+ \[([^\],]*)", body)
        rs = re.search(r"ReadSchema: (struct<.*)", body)
        if not loc or not rs:
            continue
        key = (fmt, loc.group(1), rs.group(1))
        if key not in memo:
            reader = spark.read.schema(_parse_datatype_string(rs.group(1)))
            t = time.monotonic()
            with tracer.span("sources.scan"):
                noop(reader.json(loc.group(1)) if fmt == "json" else reader.parquet(loc.group(1)))
            memo[key] = time.monotonic() - t
        total += memo[key]
    return total


def _self_time(spark, df, tracer: Tracer, memo: dict, name: str) -> float:
    t = time.monotonic()
    with tracer.span(name):
        noop(df)
    return (time.monotonic() - t) - scan_seconds(spark, df, tracer, memo)


def traced_ref_layers(spark, inp: dict, tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from flink_assignment_spark.functions.scalar import day_str, file_extension, repo_from_url
    from flink_assignment_spark.operators.cep import followed_by
    from flink_assignment_spark.operators.interval_join import bucketed_interval_join, interval_join
    from flink_assignment_spark.plans.inspect import count_exchanges

    out: dict[str, float] = {}
    memo: dict = {}
    commits, geo = ref_frames(spark, inp["commit_dir"], inp["geo_dir"])
    scans = []
    for _ in range(3):
        t = time.monotonic()
        with tracer.span("sources.json_scan"):
            noop(commits)
            noop(geo)
        scans.append(time.monotonic() - t)
    out["sources.json_scan_s"] = statistics.median(scans)
    out["sources.json_mb_s"] = inp["json_bytes"] / 1e6 / out["sources.json_scan_s"]
    scalar = commits.select(
        repo_from_url(F.col("url")).alias("repo"),
        day_str(F.col("commit.committer.date")).alias("day"),
        F.explode("files.filename").alias("fn"),
    ).select("repo", "day", file_extension(F.col("fn")).alias("ext"))
    out["functions.scalar_s"] = _self_time(spark, scalar, tracer, memo, "functions.scalar")
    events = commits.select(
        repo_from_url(F.col("url")).alias("repo"),
        F.col("commit.committer.date").alias("ts"),
        F.explode("files").alias("f"),
    ).select("repo", F.col("f.filename").alias("filename"), F.col("f.status").alias("status"), "ts").filter(
        F.col("filename").isNotNull()
    )
    fb = followed_by(events, ["repo", "filename"], "ts", "status", "added", "removed", 86400)
    out["operators.followed_by_s"] = _self_time(spark, fb, tracer, memo, "operators.followed_by")
    java = (
        commits.select("sha", F.col("commit.committer.date").alias("commit_ts"), F.explode("files").alias("f"))
        .filter(F.col("f.filename").endswith(".java"))
        .select("sha", "commit_ts", F.col("f.changes").alias("changes"))
    )
    g = geo.select("sha", F.col("createdAt").alias("geo_ts"), "continent")
    for name, fn in (("interval_join", interval_join), ("bucketed_interval_join", bucketed_interval_join)):
        df = fn(java, g, ["sha"], "commit_ts", "geo_ts", -3600, 1800)
        out[f"operators.{name}_s"] = _self_time(spark, df, tracer, memo, f"operators.{name}")
    exchanges = 0
    for q in REF_QUERIES:
        df = ref_query(q, commits, geo)
        exchanges += count_exchanges(df)
        # self time: the query's span in the traced pass minus its scans
        out[f"queries.ref.{q}_s"] = tracer.seconds(f"queries.ref.{q}") - scan_seconds(spark, df, tracer, memo)
    out["plans.exchanges.ref"] = exchanges
    return out


def traced_suite(spark, inps: dict, seconds: float, tracer: Tracer) -> dict:
    """The traced run of the listed workloads, the same for both so that
    it always reports every per-layer metric: ref_batch (a checked
    untraced pass, a traced pass, the layer probes), then ref_stream."""
    spark.sparkContext.setLocalProperty("perfbench.workload", "ref_batch")
    res = {"ref_batch": run_ref_batch(spark, inps["ref_batch"], 0, Tracer("", False), min_passes=1)}
    untraced = res["ref_batch"]["passes"][-1]
    traced = ref_pass(spark, inps["ref_batch"], tracer)
    out = {"trace.ref_batch.pass_s": traced, "trace.ref_batch.overhead_s": traced - untraced}
    out.update(traced_ref_layers(spark, inps["ref_batch"], tracer))
    log("ref_batch layers done")
    res["ref_stream"] = s = run_ref_stream(spark, inps["ref_stream"], seconds, tracer)
    out["trace.ref_stream.drain_s"] = s["drain_s"]
    for q in STREAM_QUERIES:
        for k in ("batch_p50_s", "batch_max_s", "state_rows_max", "state_mem_bytes_max"):
            out[f"streaming.{q}.{k}"] = s["progress"][q][k]
        out[f"streaming.{q}.lat_p99_s"] = quantile(s["lats_by_query"][q], 0.99)
    out["streaming.lat_p50_s"] = quantile(s["lats"], 0.5)
    out["streaming.backlog_files_max"] = s["backlog_files_max"]
    out["streaming.rows_dropped_late"] = s["rows_dropped_late"]
    out["gen.late_p99_s"] = s["gen_late_p99_s"]
    log("ref_stream done")
    return {"layers": out, "workloads": res}


def local1_pass(work: str, inp: dict, tracer: Tracer) -> float:
    """Single-threaded baseline: a fresh ``local[1]`` context in the
    same JVM, timed over one Q1-Q9 pass."""
    spark = start_session(work, 1, Tracer("", False), False, None)
    spark.sparkContext.setLocalProperty("perfbench.workload", "baseline")
    # no warm-up pass: the JVM's code generation cache and JIT are
    # already warm from the 4-core passes
    with tracer.span("baseline.local1"):
        elapsed = ref_pass(spark, inp, Tracer("", False))
    spark.stop()
    return elapsed


def event_log_metrics(eventlog: str, default_wl: str) -> dict[str, float]:
    """Task metrics per workload from the Spark event log; stages map to
    a workload through the ``perfbench.workload`` job property, and to
    ``default_wl`` when a job carries none."""
    stage_wl: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    # Spark 4 writes a rolling log: one directory of event files per app
    for path in glob.glob(os.path.join(eventlog, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    wl = (e.get("Properties") or {}).get("perfbench.workload")
                    if wl:
                        for sid in e.get("Stage IDs", []):
                            stage_wl[sid] = wl
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    tasks.setdefault(e["Stage ID"], []).append(e)
    out: dict[str, float] = {}
    # task_skew looks only at stages that read a shuffle: their task
    # sizes follow the keys (Zipf repos in ref_batch), while scan tasks
    # follow the even file splits
    by_wl: dict[str, dict[int, list[dict]]] = {}
    for sid, ts in tasks.items():
        by_wl.setdefault(stage_wl.get(sid, default_wl), {})[sid] = ts
    for wl, stages in by_wl.items():
        if wl == "baseline":
            continue
        m = Counter()
        slowest, skew = -1.0, 1.0
        for ts in stages.values():
            durs, reads_shuffle = [], False
            for e in ts:
                tm = e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["shuffle_read_bytes"] += read
                reads_shuffle = reads_shuffle or read > 0
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["tasks"] += 1
                info = e.get("Task Info") or {}
                durs.append(max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0))
            if reads_shuffle and sum(durs) > slowest:
                slowest = sum(durs)
                med = statistics.median(durs)
                skew = max(durs) / med if med > 0 else float(len(durs) > 0)
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_cpu_s", "gc_s", "tasks"):
            out[f"spark.{wl}.{k}"] = m[k]
        out[f"spark.{wl}.task_skew"] = skew
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="Spark side of the benchmark (started by run.py).")
    ap.add_argument("--inputs", required=True, help="JSON file describing the generated inputs")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.inputs) as f:
        inps = json.load(f)
    work = os.path.dirname(os.path.abspath(args.out))
    tracer = Tracer(f"{args.workload}-{os.getpid()}", bool(args.trace))
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    python_workers = bool(args.trace) or args.workload != "ref_batch"
    spark = start_session(work, args.cpus, tracer, python_workers, eventlog)
    print("READY", flush=True)
    log("session ready")
    if args.trace:
        result = traced_suite(spark, inps, args.seconds, tracer)
        layers = result["layers"]
        for name in ("session.get_spark", "session.warmup"):
            first = next(s for s in tracer.spans if s["name"] == name)
            layers[name + "_s"] = first["end"] - first["start"]
        spark.stop()
        local1 = local1_pass(work, inps["ref_batch"], tracer)
        layers["baseline.local1.pass_s"] = local1
        layers["baseline.speedup"] = local1 / result["workloads"]["ref_batch"]["passes"][-1]
        log("local[1] baseline done")
        layers.update(event_log_metrics(eventlog, "ref_stream"))
        result["spans_path"] = os.path.join(work, "spans.json")
        tracer.dump(result["spans_path"])
    else:
        spark.sparkContext.setLocalProperty("perfbench.workload", args.workload)
        fn = {"ref_batch": run_ref_batch, "ref_stream": run_ref_stream}
        result = {"workloads": {args.workload: fn[args.workload](spark, inps[args.workload], args.seconds, tracer)}}
        log("workload done")
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
