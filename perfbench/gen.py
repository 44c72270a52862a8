"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed always yields byte-identical files.

- :func:`commit_events` / :func:`write_commit_parts` — GitHub-commit +
  geo JSONL in the reference's ``Protocol.scala`` shape. Repos are
  Zipf-skewed, repo and filename cardinality grow with volume, commit
  times ascend across part files (the reference's ascending-watermark
  assumption) and geo offsets fall inside and outside Q8's
  [-1 h, +30 min] band.
- ``python3 perfbench/gen.py feed ...`` — the open-loop feeder used by
  the streaming workload: moves pre-rendered part files into the
  source directories on a fixed schedule that never waits for the
  system, and records when each file was due and when it landed.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import sys
import time
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2023, 3, 1, tzinfo=timezone.utc)
EXTS = ["java", "scala", "js", "py", "md", "txt", "go", ""]
EXT_WEIGHTS = [22, 8, 14, 14, 10, 6, 6, 4]
STATUSES = ["modified", "added", "removed", "renamed", None]
STATUS_WEIGHTS = [52, 22, 16, 6, 4]
CONTINENTS = ["Europe", "Asia", "North-America", "South-America", "Africa", "Oceania"]
WORDS = ("fix add remove refactor bump update test docs build cache join state "
         "window stream batch parser schema merge release hotfix").split()


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def _zipf_cum(n: int, s: float = 1.1) -> list[float]:
    """Cumulative Zipf(s) weights over ``n`` ranks, for ``cum_weights=``."""
    return list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))


def commit_events(seed: int, n_commits: int, span_days: float) -> tuple[list[dict], list[dict]]:
    """``n_commits`` commits (ascending commit time over ``span_days``)
    and their geo events (sorted by ``createdAt``)."""
    rng = random.Random(seed)
    n_repos = max(20, n_commits // 40)
    n_files = max(30, n_commits // 8)  # per-repo filename pool
    repo_w = _zipf_cum(n_repos)
    file_w = _zipf_cum(n_files, 0.8)
    ext_w = list(itertools.accumulate(EXT_WEIGHTS))
    status_w = list(itertools.accumulate(STATUS_WEIGHTS))
    repos = [f"org{r % 97}/repo{r}" for r in range(n_repos)]
    # small committer pools on some repos, so Q7's HAVING (> 20
    # commits, <= 2 committers) keeps rows
    committers = [[f"dev{r}_{c}" for c in range(1 + r % 5)] for r in range(n_repos)]
    span_s = span_days * 86400.0
    # whole seconds, strictly ascending: no two commits share a
    # timestamp, so Q9's batch form (one match per distinct added
    # time) and its CEP stream form (one match per added event) agree
    offsets: list[int] = []
    for x in sorted(rng.random() * span_s for _ in range(n_commits)):
        offsets.append(max(int(x), offsets[-1] + 1 if offsets else 0))
    repo_idx = rng.choices(range(n_repos), cum_weights=repo_w, k=n_commits)
    commits, geo = [], []
    for i in range(n_commits):
        r = repo_idx[i]
        ts = EPOCH + timedelta(seconds=offsets[i])
        sha = f"{seed:x}{i:08x}{rng.getrandbits(64):016x}"
        url = f"https://api.github.com/repos/{repos[r]}/commits/{sha}"
        if rng.random() < 0.2:
            url += "?page=2&per_page=10"
        files, seen = [], set()
        for j in range(rng.choice((0, 1, 1, 2, 2, 3, 4, 6))):
            ext = rng.choices(EXTS, cum_weights=ext_w)[0]
            k = rng.choices(range(n_files), cum_weights=file_w)[0]
            fname = None if rng.random() < 0.03 else (
                f"src/m{k % 13}/F{k}" + (f".{ext}" if ext else "")
            )
            if fname in seen:
                continue  # a commit lists each path once
            seen.add(fname)
            add, dele = rng.randint(0, 80), rng.randint(0, 60)
            files.append({
                "sha": f"b{i}_{j}",
                "filename": fname,
                "status": rng.choices(STATUSES, cum_weights=status_w)[0],
                "additions": add,
                "deletions": dele,
                "changes": add + dele,
                "patch": f"@@ -1,{dele} +1,{add} @@ {rng.choice(WORDS)}",
            })
        name = rng.choice(committers[r])
        stats = None
        if rng.random() > 0.1:
            a = sum(f["additions"] for f in files)
            d = sum(f["deletions"] for f in files)
            stats = {"total": a + d, "additions": a, "deletions": d}
        commits.append({
            "node_id": f"N{i}",
            "sha": sha,
            "url": url,
            "commit": {
                "author": {"name": name, "email": f"{name}@example.org", "date": _iso(ts)},
                "committer": {"name": name, "email": f"{name}@example.org", "date": _iso(ts)},
                "message": " ".join(rng.choices(WORDS, k=6)),
                "tree": {"sha": f"t{i}"},
                "comment_count": rng.randint(0, 3),
            },
            "parents": [{"sha": f"p{i}"}],
            "stats": stats,
            "files": files,
        })
        if rng.random() < 0.9:
            # uniform over [-2 h, +1 h]: half inside Q8's band
            off = rng.randint(-7200, 3600)
            geo.append({
                "sha": sha,
                "createdAt": _iso(ts + timedelta(seconds=off)),
                "continent": rng.choice(CONTINENTS),
                "_t": offsets[i] + off,
            })
    geo.sort(key=lambda g: g["_t"])
    return commits, geo


def split_parts(commits: list[dict], geo: list[dict], sizes: list[int]) -> list[tuple[list[dict], list[dict]]]:
    """Cut the timeline into consecutive (commits, geo) slices of
    ``sizes`` commits each. A geo event goes to the slice whose
    commit-time range holds its ``createdAt`` (clamped to the ends), so
    both sources ascend across slices and no row arrives behind a
    zero-delay watermark."""
    assert sum(sizes) == len(commits)
    bounds = list(itertools.accumulate(sizes, initial=0))
    c_parts = [commits[lo:hi] for lo, hi in zip(bounds, bounds[1:])]
    starts = [_ts_s(p[0]) for p in c_parts[1:]]
    g_parts: list[list[dict]] = [[] for _ in sizes]
    k = 0
    for g in geo:
        t = EPOCH.timestamp() + g["_t"]
        while k < len(starts) and t >= starts[k]:
            k += 1
        g_parts[k].append(g)
    return list(zip(c_parts, g_parts))


def _ts_s(c: dict) -> float:
    return datetime.strptime(c["commit"]["committer"]["date"], "%Y-%m-%dT%H:%M:%SZ").replace(
        tzinfo=timezone.utc).timestamp()


def _dump(rows: list[dict], path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps({k: v for k, v in r.items() if k != "_t"}, separators=(",", ":")))
            f.write("\n")
    os.replace(tmp, path)


def write_commit_parts(parts, commit_dir: str, geo_dir: str, prefix: str = "part") -> None:
    """Write each (commits, geo) slice as one JSONL file per source,
    under the same name in both directories."""
    os.makedirs(commit_dir, exist_ok=True)
    os.makedirs(geo_dir, exist_ok=True)
    for k, (cs, gs) in enumerate(parts):
        name = f"{prefix}{k:05d}.jsonl"
        _dump(cs, os.path.join(commit_dir, name))
        _dump(gs, os.path.join(geo_dir, name))


def flush_part(commits: list[dict]) -> tuple[list[dict], list[dict]]:
    """One file-less commit three days after the last event: it moves
    every watermark past the last open window, so append-mode windows
    emit. It has no files and a repo of its own, so it changes no
    query result."""
    ts = datetime.fromtimestamp(_ts_s(commits[-1]), timezone.utc) + timedelta(days=3)
    c = {
        "node_id": "flush", "sha": "flush", "url": "https://api.github.com/repos/flush/flush/commits/flush",
        "commit": {"committer": {"name": "flush", "email": "f@example.org", "date": _iso(ts)}},
        "stats": None, "files": [],
    }
    g = {"sha": "flush", "createdAt": _iso(ts), "continent": "Europe"}
    return [c], [g]


def feed(plan_path: str, manifest_path: str) -> None:
    """Open-loop feeder. ``plan`` is a JSON list of
    ``{"due": <unix time>, "moves": [[src, dst], ...]}``; each entry's
    files are renamed into place at ``due`` no matter how far the
    consumer has fallen behind. The manifest records, per entry, when
    it was due and when its last file landed."""
    with open(plan_path) as f:
        plan = json.load(f)
    log = []
    for step in plan:
        wait = step["due"] - time.time()
        if wait > 0:
            time.sleep(wait)
        for src, dst in step["moves"]:
            os.rename(src, dst)
        log.append({"due": step["due"], "landed": time.time(), "files": [d for _, d in step["moves"]]})
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(log, f)
    os.replace(manifest_path + ".tmp", manifest_path)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    fp = sub.add_parser("feed", help="open-loop feeder for the streaming workload")
    fp.add_argument("--plan", required=True)
    fp.add_argument("--manifest", required=True)
    args = ap.parse_args(argv)
    if args.cmd == "feed":
        feed(args.plan, args.manifest)


if __name__ == "__main__":
    main(sys.argv[1:])
