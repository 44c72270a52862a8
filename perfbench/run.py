"""Benchmark entry point.

    python3 perfbench/run.py --workload ref_batch --seed 1 --seconds 10 --trace 0

Generates the seeded inputs (cached under ``.perfbench_cache/``, outside
the set-up time), starts ``worker.py`` in its own process, times
process start until the worker's session is up and warm (``setup_s``),
samples the resident memory of the worker's process tree (driver JVM
and Python workers) until the measured part is over, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Workloads and metrics are the ones ``BENCHMARK.json`` lists. With
``--trace 0`` the metrics are the end-to-end ones of the named
workload; with ``--trace 1`` the worker runs the traced suite (the same
for either workload: ``ref_batch`` and ``ref_stream`` in one session,
then a ``local[1]`` baseline pass) and the metrics are the per-layer
ones, each listed on standard error with the end-to-end metric it
should move; spans are saved under ``.perfbench_cache/trace/``.

``--workload all`` runs every workload untraced, one after the other,
and prints every end-to-end number under its workload-specific name
(``batch_s``, ``stream_drain_eps``, ``stream_lat_p99_s``, ...) with its
unit and sample count, plus ``error_rate``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import TARGETS, quantile  # noqa: E402

RUN_LIMIT_S = 170  # the whole run, generation included
SIZES = {
    # ref_batch: ~8 MB of commit + geo JSONL; a Q1-Q9 pass takes ~4 s on
    # 4 cores
    "ref_commits": 9000,
    "ref_parts": 8,
    # ref_stream: a backlog drained with availableNow, then one part of
    # 25 commits every 0.25 s (100 commits/s, about a third of the drain
    # rate, so that queueing does not amplify noise) fed open-loop
    "stream_backlog": 2400,
    "stream_backlog_parts": 4,
    "stream_step_commits": 25,
    "stream_interval_s": 0.25,
    "stream_warm_steps": 8,
    "commits_per_day": 2000,
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec() -> dict:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        _fail(f"cannot read BENCHMARK.json: {e}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def _input_version() -> str:
    """Inputs are cached per seed and per source of the generator and of
    this file (sizes, layout), so an edit never reuses stale files."""
    h = hashlib.sha1()
    for name in ("gen.py", "run.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:8]


def _fresh(cache: str, prefix: str, keep: str) -> None:
    """Drop inputs of other seeds, so the cache holds one seed per workload."""
    for d in os.listdir(cache):
        if d.startswith(prefix) and d != os.path.basename(keep):
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def prepare_ref_batch(cache: str, seed: int) -> dict:
    import gen

    n = SIZES["ref_commits"]
    base = os.path.join(cache, f"ref-{seed}-{n}-{_input_version()}")
    _fresh(cache, "ref-", base)
    cdir, gdir = os.path.join(base, "commits"), os.path.join(base, "geo")
    if not _done(base):
        shutil.rmtree(base, ignore_errors=True)
        commits, geo = gen.commit_events(seed, n, n / SIZES["commits_per_day"])
        k = SIZES["ref_parts"]
        sizes = [n // k + (i < n % k) for i in range(k)]
        gen.write_commit_parts(gen.split_parts(commits, geo, sizes), cdir, gdir)
        _mark(base)
    return {
        "commit_dir": cdir,
        "geo_dir": gdir,
        "commit_glob": os.path.join(cdir, "*.jsonl"),
        "geo_glob": os.path.join(gdir, "*.jsonl"),
        "json_bytes": sum(
            os.path.getsize(os.path.join(d, f)) for d in (cdir, gdir) for f in os.listdir(d)
        ),
    }


def prepare_ref_stream(cache: str, work: str, seed: int, seconds: float) -> dict:
    import gen

    interval = SIZES["stream_interval_s"]
    warm = SIZES["stream_warm_steps"]
    steps = warm + math.ceil(seconds / interval)
    backlog, bparts, m = SIZES["stream_backlog"], SIZES["stream_backlog_parts"], SIZES["stream_step_commits"]
    n = backlog + steps * m
    base = os.path.join(cache, f"stream-{seed}-{n}-{_input_version()}")
    _fresh(cache, "stream-", base)
    if not _done(base):
        shutil.rmtree(base, ignore_errors=True)
        commits, geo = gen.commit_events(seed + 7919, n, n / SIZES["commits_per_day"])
        sizes = [backlog // bparts] * bparts + [m] * steps
        sizes[0] += backlog - sum(sizes[:bparts])
        parts = gen.split_parts(commits, geo, sizes)
        # each phase ends with a flush commit that closes its last windows
        gen.write_commit_parts(parts[:bparts] + [gen.flush_part(commits[:backlog])],
                               os.path.join(base, "drain", "commits"), os.path.join(base, "drain", "geo"), "backlog")
        gen.write_commit_parts(parts[bparts:] + [gen.flush_part(commits)],
                               os.path.join(base, "stage", "commits"), os.path.join(base, "stage", "geo"), "step")
        _mark(base)
    for d in ("drain", "stage"):
        shutil.copytree(os.path.join(base, d), os.path.join(work, d))
    live = os.path.join(work, "live")
    os.makedirs(os.path.join(live, "commits"))
    os.makedirs(os.path.join(live, "geo"))
    stage = os.path.join(work, "stage")
    return {
        "drain": os.path.join(work, "drain"),
        "live": live,
        "stage": stage,
        "steps": sorted(os.listdir(os.path.join(stage, "commits"))),
        "warm_steps": warm,
        "interval_s": interval,
        "backlog_commits": backlog,
        "ckpt": os.path.join(work, "ckpt"),
        "work": work,
    }


class RssSampler(threading.Thread):
    """Peak summed VmRSS of a process tree (the driver JVM and the Python
    workers), sampled from /proc five times a second until ``halt`` is
    set. The open-loop feeder (``gen.py``) is the load generator, not
    the system, and is left out. The tree is re-listed once a second,
    since walking /proc costs far more than reading a few status files."""

    PERIOD_S = 0.2
    RELIST_EVERY = 5

    def __init__(self, pid: int, halt: threading.Event):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.samples = 0
        self._halt = halt

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if b"gen.py" in f.read():
                        continue
            except OSError:
                continue
            todo.extend(children.get(p, []))
            if not self._jvm_fork(p):
                out.append(p)
        return out

    @staticmethod
    def _jvm_fork(pid: int) -> bool:
        """A child the JVM forked to run a shell command: until it execs
        it is still ``java`` and shows the JVM's pages as its own RSS."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
            return os.readlink(f"/proc/{pid}/exe") == os.readlink(f"/proc/{ppid}/exe") and \
                os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
        except (OSError, IndexError):
            return True  # gone already

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        pids: list[int] = []
        while not self._halt.is_set():
            if self.samples % self.RELIST_EVERY == 0:
                pids = self._tree()
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))
            self.samples += 1
            self._halt.wait(self.PERIOD_S)


def _worker_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": env.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
        # keep every JVM and Python temp file inside the run's directory
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONUNBUFFERED": "1",
        # Python workers forked by Spark import the package from here
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    })
    return env


def _session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(d))
    return out


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill the worker's session (the JVM, Python workers, the feeder)
    and wait until every process in it has ended."""
    try:
        os.killpg(proc.pid, 9)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while (left := _session_pids(proc.pid)) and time.monotonic() < deadline:
        for pid in left:  # a Python worker daemon leads its own process group
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def start_worker(args: list[str], work: str, measured: threading.Event):
    """Start ``worker.py`` in its own session; a reader thread records
    when it prints READY (seconds since start), sets ``measured`` when
    it prints MEASURED and forwards the rest of its standard output to
    our standard error."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args]
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, env=_worker_env(work), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    ready: dict = {}

    def read_stdout():
        for line in proc.stdout:
            if line.strip() == "READY" and "t" not in ready:
                ready["t"] = time.monotonic() - t0
            elif line.strip() == "MEASURED":
                measured.set()
            else:
                sys.stderr.write(line)

    reader = threading.Thread(target=read_stdout, daemon=True)
    reader.start()
    return proc, ready, reader


def run_worker(workload: str, inputs_path: str, seconds: float, trace: int, cpus: int,
               work: str, deadline: float) -> tuple[float, dict, RssSampler]:
    """Run the workload's worker; returns its set-up time, its result and
    the RSS sampler of its process tree."""
    out = os.path.join(work, "result.json")
    args = ["--inputs", inputs_path, "--workload", workload, "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus), "--out", out]
    measured = threading.Event()
    proc, ready, reader = start_worker(args, work, measured)
    sampler = RssSampler(proc.pid, measured)
    sampler.start()
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the worker may leave Python workers or the feeder behind
        _kill_group(proc)
        measured.set()
        sampler.join()
        reader.join(timeout=5)
    if rc != 0 or "t" not in ready or not os.path.exists(out):
        _fail(f"worker for {workload} failed (exit code {rc})")
    with open(out) as f:
        return ready["t"], json.load(f), sampler


def end_to_end(spec: dict, workload: str, setup: float, res: dict) -> dict:
    r = res["workloads"][workload]
    vals = {
        "setup_s": setup,
        "pass_s": r["drain_s"] if workload == "ref_stream" else statistics.median(r["passes"]),
    }
    return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float, RssSampler]:
    """Prepare the inputs and run the worker; a traced run gets the
    inputs of both workloads, since the traced suite runs both."""
    started = time.monotonic()
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(cache, f"work-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = {"work": work}
        if trace or workload == "ref_batch":
            inputs["ref_batch"] = prepare_ref_batch(cache, seed)
        if trace or workload == "ref_stream":
            inputs["ref_stream"] = prepare_ref_stream(cache, work, seed, seconds)
        inputs_path = os.path.join(work, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)
        cpus = len(os.sched_getaffinity(0))
        print(f"perfbench: inputs ready after {time.monotonic() - started:.1f} s", file=sys.stderr)
        setup, res, sampler = run_worker(workload, inputs_path, seconds, trace, cpus, work,
                                         started + RUN_LIMIT_S)
        print(f"perfbench: worker done after {time.monotonic() - started:.1f} s (set-up {setup:.1f} s, "
              f"peak RSS {sampler.peak_kb / 1024:.0f} MB)", file=sys.stderr)
        if trace:
            tdir = os.path.join(cache, "trace")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(res["spans_path"], os.path.join(tdir, f"spans-{workload}-{seed}.json"))
        return res, setup, sampler
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report_all(spec: dict, seed: int, seconds: float) -> None:
    """Every end-to-end number of every workload under its
    workload-specific name, with unit and sample count."""
    rows, att, fail = [], 0, 0
    for wl in (w["name"] for w in spec["workloads"]):
        res, setup, sampler = one_run(wl, seed, seconds, 0)
        r = res["workloads"][wl]
        att += r["attempted"]
        fail += r["failed"]
        for e in r["errors"]:
            print(f"{wl}: {e}", file=sys.stderr)
        rows += [
            (f"{wl}.setup_s", setup, "s", 1),
            (f"{wl}.peak_rss_mb", sampler.peak_kb / 1024, "MB", sampler.samples),
        ]
        if wl == "ref_batch":
            rows.append(("batch_s", statistics.median(r["passes"]), "s", len(r["passes"])))
        else:
            n = len(r["lats"])
            rows += [
                ("stream_drain_eps", r["backlog_commits"] / r["drain_s"], "1/s", 1),
                ("stream_lat_p50_s", quantile(r["lats"], 0.5), "s", n),
                ("stream_lat_p90_s", quantile(r["lats"], 0.9), "s", n),
                # fewer than ten samples lie beyond the p99 of a short run
                ("stream_lat_p99_s", quantile(r["lats"], 0.99), "s", n),
            ]
    rows.append(("error_rate", fail / max(att, 1), "ratio", att))
    for name, v, unit, n in rows:
        print(f"{name:28s} {v:12.4f} {unit:6s} n={n}")
    print(json.dumps({
        "correct": fail == 0, "attempted": att, "failed": fail,
        "metrics": {name: {"value": v, "unit": unit, "samples": n} for name, v, unit, n in rows},
    }))


def main() -> None:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*(w["name"] for w in spec["workloads"]), "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "flink_assignment_spark", "__init__.py")):
        _fail("the flink_assignment_spark package is not next to perfbench/; run from a full checkout")
    for mod in ("pyspark", "duckdb", "pyarrow", "pandas"):
        try:
            __import__(mod)
        except ImportError:
            _fail(f"python module {mod} is not installed")
    if args.workload == "all":
        report_all(spec, args.seed, args.seconds)
        return
    res, setup, _ = one_run(args.workload, args.seed, args.seconds, args.trace)
    if args.trace:
        att = sum(r["attempted"] for r in res["workloads"].values())
        fail = sum(r["failed"] for r in res["workloads"].values())
        errors = [f"{w}: {e}" for w, r in res["workloads"].items() for e in r["errors"]]
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in res["layers"]]
        if missing:
            _fail(f"traced run did not produce {missing}")
        metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
        for name, m in metrics.items():
            print(f"{name:40s} {m['value']:14.4f} {m['unit']:6s} -> {TARGETS.get(name, '')}", file=sys.stderr)
    else:
        r = res["workloads"][args.workload]
        att, fail, errors = r["attempted"], r["failed"], r["errors"]
        metrics = end_to_end(spec, args.workload, setup, res)
    for e in errors:
        print(e, file=sys.stderr)
    print(json.dumps({"correct": fail == 0, "attempted": att, "failed": fail, "metrics": metrics}))


if __name__ == "__main__":
    main()
