"""Independent DuckDB computation the benchmark checks Spark against:
:func:`reference_results` runs Q1–Q9, written from the reference's
semantics (``FlinkAssignment.scala``) directly over the same JSONL and
sharing no code with the package.

Every result is a ``Counter`` of row tuples in a fixed column order;
timestamps are epoch microseconds, so no time zone is involved.
"""

from __future__ import annotations

from collections import Counter

import duckdb

_COMMIT_COLUMNS = (
    "{sha: 'VARCHAR', url: 'VARCHAR', "
    "commit: 'STRUCT(committer STRUCT(name VARCHAR, date TIMESTAMP))', "
    "stats: 'STRUCT(total INTEGER, additions INTEGER, deletions INTEGER)', "
    "files: 'STRUCT(filename VARCHAR, status VARCHAR, additions INTEGER, "
    "deletions INTEGER, changes INTEGER)[]'}"
)
_GEO_COLUMNS = "{sha: 'VARCHAR', createdAt: 'TIMESTAMP', continent: 'VARCHAR'}"

# owner/repo from a commit URL with the reference's fallbacks
# (FlinkAssignment.scala:174-183): query string stripped, trailing
# slashes dropped, the two segments after 'repos', else the 3rd- and
# 2nd-last segments, else the cleaned URL
_REPO = """
CASE WHEN list_position(p, 'repos') > 0 AND list_position(p, 'repos') + 2 <= len(p)
     THEN p[list_position(p, 'repos') + 1] || '/' || p[list_position(p, 'repos') + 2]
     WHEN len(p) >= 4 THEN p[-3] || '/' || p[-2]
     ELSE cleaned END
"""

REFERENCE_SQL = {
    "q1": "SELECT sha FROM commits WHERE stats.additions >= 20",
    "q2": """SELECT f.filename FROM (SELECT unnest(files) AS f FROM commits)
             WHERE f.deletions > 30 AND f.filename IS NOT NULL""",
    "q3": """SELECT ext, count(*) FROM (
               SELECT list_filter(string_split(f.filename, '.'), x -> x <> '')[-1] AS ext
               FROM (SELECT unnest(files) AS f FROM commits) WHERE f.filename IS NOT NULL)
             WHERE ext IN ('java', 'scala') GROUP BY ext""",
    "q4": """SELECT CASE WHEN ends_with(f.filename, '.js') THEN '.js' ELSE '.py' END,
                    coalesce(f.status, 'unknown'), sum(f.changes)
             FROM (SELECT unnest(files) AS f FROM commits)
             WHERE ends_with(f.filename, '.js') OR ends_with(f.filename, '.py')
             GROUP BY 1, 2""",
    "q5": """SELECT strftime(date_trunc('day', commit.committer.date), '%d-%m-%Y'), count(*)
             FROM commits GROUP BY 1""",
    "q6": """WITH t AS (
               SELECT epoch(commit.committer.date)::BIGINT AS s,
                      CASE WHEN coalesce(stats.total, 0) > 20 THEN 'large' ELSE 'small' END AS ty
               FROM commits)
             SELECT epoch_us(to_timestamp((s // 43200 - i) * 43200)), ty, count(*)
             FROM t, range(0, 4) r(i) GROUP BY 1, 2""",
    "q7": f"""WITH c AS (
               SELECT regexp_replace(url, '\\?.*$', '') AS cleaned, *
               FROM commits
             ), r AS (
               SELECT {_REPO} AS repo, date_trunc('day', commit.committer.date) AS d,
                      commit.committer.name AS committer, coalesce(stats.total, 0) AS total
               FROM (SELECT string_split(regexp_replace(cleaned, '/+$', ''), '/') AS p, * FROM c)
             ), pc AS (
               SELECT repo, d, committer, count(*) AS cnt, sum(total) AS changes
               FROM r GROUP BY ALL
             ), m AS (
               SELECT *, max(cnt) OVER (PARTITION BY repo, d) AS mx FROM pc
             )
             SELECT repo, strftime(d, '%d-%m-%Y'), sum(cnt)::INTEGER, count(*)::INTEGER,
                    sum(changes)::INTEGER,
                    array_to_string(list_sort(list(committer) FILTER (WHERE cnt = mx)), ',')
             FROM m GROUP BY repo, d
             HAVING sum(cnt) > 20 AND count(*) <= 2""",
    "q8": """WITH j AS (
               SELECT sha, commit.committer.date AS cts, f.changes AS changes
               FROM (SELECT sha, commit, unnest(files) AS f FROM commits)
               WHERE f.filename IS NOT NULL AND ends_with(f.filename, '.java')
             ), x AS (
               SELECT g.continent, j.changes, greatest(j.cts, g.createdAt) AS t
               FROM j JOIN geo g ON j.sha = g.sha
               AND g.createdAt >= j.cts - INTERVAL 1 HOUR
               AND g.createdAt <= j.cts + INTERVAL 30 MINUTE
             )
             SELECT (epoch_us(t) // 604800000000) * 604800000000, continent,
                    sum(changes)::INTEGER
             FROM x GROUP BY 1, 2""",
    "q9": f"""WITH c AS (
               SELECT unnest(files) AS f, commit.committer.date AS ts,
                      regexp_replace(url, '\\?.*$', '') AS cleaned
               FROM commits
             ), b AS (
               SELECT {_REPO} AS repo, f.filename AS filename, f.status AS status, ts
               FROM (SELECT string_split(regexp_replace(cleaned, '/+$', ''), '/') AS p, * FROM c)
               WHERE f.filename IS NOT NULL
             ), m AS (
               SELECT a.repo, a.filename, a.ts
               FROM b a JOIN b r ON a.repo = r.repo AND a.filename = r.filename
               WHERE a.status = 'added' AND r.status = 'removed'
                 AND r.ts > a.ts AND r.ts <= a.ts + INTERVAL 1 DAY
               GROUP BY a.repo, a.filename, a.ts
             )
             SELECT repo, filename FROM m""",
}


def reference_results(commit_glob: str, geo_glob: str) -> dict[str, Counter]:
    """DuckDB results of Q1–Q9 over the JSONL files matching the two
    globs."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"CREATE VIEW commits AS SELECT * FROM read_json('{commit_glob}', "
            f"format='newline_delimited', columns={_COMMIT_COLUMNS})"
        )
        con.execute(
            f"CREATE VIEW geo AS SELECT * FROM read_json('{geo_glob}', "
            f"format='newline_delimited', columns={_GEO_COLUMNS})"
        )
        return {
            q: Counter(tuple(r) for r in con.execute(sql).fetchall())
            for q, sql in REFERENCE_SQL.items()
        }
    finally:
        con.close()

