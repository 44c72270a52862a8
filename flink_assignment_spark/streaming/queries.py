"""Streaming forms of the reference queries.

Structured Streaming runs the SAME logical plans as batch; these
wrappers add the two things the streaming runner needs: an event-time
watermark (the reference's ``AscendingTimestampExtractor`` ≙ zero
lateness, ``FlinkAssignment.scala:124-127`` etc.) and an output-mode
recommendation.

Output-mode mapping from Flink semantics:
- Q3/Q4 keyed running aggregates (per-element refinement,
  README.md:86-92) → ``update`` mode: one refinement per micro-batch,
  the Spark-idiomatic emission cadence for keyed state.
- Q5/Q6/Q7 event-time windows → ``append`` with watermark (emit once
  the watermark passes window end — exactly Flink's window firing),
  or ``complete`` for testing.
- Q8 interval join → stream-stream inner join: matches emit eagerly;
  the watermark + time band bound the join state on both sides
  (the same state-cleanup contract as Flink's interval join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import day_str, repo_from_url
from ..queries import reference as R

EVENT_TS_NAME = "event_ts"


def with_event_time(commits: DataFrame, delay: str = "0 seconds") -> DataFrame:
    """Project the nested event-time column to a top-level attribute
    and declare the watermark (ascending-timestamp ⇒ zero lateness)."""
    return commits.withColumn(EVENT_TS_NAME, F.col("commit.committer.date")).withWatermark(
        EVENT_TS_NAME, delay
    )


def question_one_stream(commits: DataFrame) -> DataFrame:
    """Stateless — the batch plan runs unchanged per micro-batch."""
    return R.question_one(commits)


def question_two_stream(commits: DataFrame) -> DataFrame:
    return R.question_two(commits)


def question_three_stream(commits: DataFrame) -> DataFrame:
    """Keyed running count (update-mode target): emits the refined
    count per key each micro-batch — Flink's per-element refinement at
    micro-batch cadence; final values identical. The batch plan's
    event-time projection is unused and pruned."""
    return R.question_three(commits)


def question_four_stream(commits: DataFrame) -> DataFrame:
    return R.question_four(commits)


def question_five_stream(commits: DataFrame, delay: str = "0 seconds") -> DataFrame:
    ts = with_event_time(commits, delay)
    return (
        ts.groupBy(F.window(EVENT_TS_NAME, "1 day").alias("w"))
        .agg(F.count("*").alias("count"))
        .select(day_str(F.col("w.start")).alias("date"), "count")
    )


def question_six_stream(commits: DataFrame, delay: str = "0 seconds") -> DataFrame:
    ts = with_event_time(commits, delay).select(
        EVENT_TS_NAME,
        F.when(F.coalesce(F.col("stats.total"), F.lit(0)) > 20, "large")
        .otherwise("small")
        .alias("commit_type"),
    )
    return (
        ts.groupBy(F.window(EVENT_TS_NAME, "48 hours", "12 hours").alias("w"), "commit_type")
        .agg(F.count("*").alias("count"))
        .select(F.col("w.start").alias("window_start"), "commit_type", "count")
    )


def question_seven_stream(commits: DataFrame, delay: str = "0 seconds") -> DataFrame:
    """Q7 as chained windowed aggregations (level 1 per committer,
    level 2 per repo-window). Spark supports chained time-window
    aggregations in append mode; the HAVING filter applies on the
    final append output. Tie-join via sorted collect_list as in batch.
    """
    ts = with_event_time(commits, delay)
    per_committer = (
        ts.select(
            EVENT_TS_NAME,
            repo_from_url(F.col("url")).alias("repo"),
            F.col("commit.committer.name").alias("committer"),
            F.coalesce(F.col("stats.total"), F.lit(0)).alias("total"),
        )
        .groupBy(F.window(EVENT_TS_NAME, "1 day").alias("w"), "repo", "committer")
        .agg(F.count("*").alias("cnt"), F.sum("total").alias("changes"))
    )
    summary = (
        per_committer.groupBy(F.window(F.col("w"), "1 day").alias("w2"), "repo")
        .agg(
            F.sum("cnt").cast("int").alias("amountOfCommits"),
            F.count("*").cast("int").alias("amountOfCommitters"),
            F.sum("changes").cast("int").alias("totalChanges"),
            F.max("cnt").alias("max_cnt"),
            F.collect_list(F.struct(F.col("cnt"), F.col("committer"))).alias("cc"),
        )
        .filter((F.col("amountOfCommits") > 20) & (F.col("amountOfCommitters") <= 2))
    )
    top = F.array_join(
        F.sort_array(
            F.transform(
                F.filter(F.col("cc"), lambda x: x["cnt"] == F.col("max_cnt")),
                lambda x: x["committer"],
            )
        ),
        ",",
    )
    return summary.select(
        "repo",
        day_str(F.col("w2.start")).alias("date"),
        "amountOfCommits",
        "amountOfCommitters",
        "totalChanges",
        top.alias("mostPopularCommitter"),
    )


def question_eight_join_stream(
    commits: DataFrame, geo: DataFrame, delay: str = "0 seconds"
) -> DataFrame:
    """Q8's interval join as a stream-stream inner join: equi on sha +
    event-time band. The band plus both watermarks bound join state
    (Spark drops buffered rows once they can no longer match) — the
    same mechanism as Flink's interval-join state cleanup. Inner-join
    matches emit eagerly; the weekly rollup is the batch tail or a
    downstream windowed aggregation."""
    java_files = (
        commits.withColumn("commit_ts", F.col("commit.committer.date"))
        .withWatermark("commit_ts", delay)
        .select("sha", "commit_ts", F.explode("files").alias("f"))
        .filter(F.col("f.filename").isNotNull() & F.col("f.filename").endswith(".java"))
        .select("sha", "commit_ts", F.col("f.changes").alias("changes"))
    )
    geo_ev = geo.withWatermark("createdAt", delay).select(
        F.col("sha").alias("geo_sha"), F.col("createdAt").alias("geo_ts"), "continent"
    )
    return java_files.join(
        geo_ev,
        (F.col("sha") == F.col("geo_sha"))
        & (F.col("geo_ts") >= F.col("commit_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("geo_ts") <= F.col("commit_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "continent", "changes", F.greatest("commit_ts", "geo_ts").alias("joined_ts")
    )


def question_nine_stream(commits: DataFrame, delay: str = "0 seconds") -> DataFrame:
    """Q9 streaming: the CEP pattern over the live commit stream —
    explode to (repo, filename, status) events, then the stateful
    followed-by operator keyed by (repo, filename). Emits one row per
    matched 'added' event, exactly the batch question_nine semantics,
    with state bounded by the 1-day match horizon."""
    from .cep_stream import followed_by_stream

    base = (
        commits.withColumn(EVENT_TS_NAME, F.col("commit.committer.date"))
        .withWatermark(EVENT_TS_NAME, delay)
        .select(
            repo_from_url(F.col("url")).alias("repo"),
            F.explode("files").alias("f"),
            EVENT_TS_NAME,
        )
        .filter(F.col("f.filename").isNotNull() & F.col("f.status").isin("added", "removed"))
        .select("repo", F.col("f.filename").alias("filename"), F.col("f.status").alias("status"), EVENT_TS_NAME)
    )
    return followed_by_stream(
        base, ["repo", "filename"], EVENT_TS_NAME, "status", "added", "removed", within_s=86400
    ).select("repo", "filename")
