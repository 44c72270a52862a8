"""The nine reference queries (batch form) over the commit schema.

Each function is a pure DataFrame→DataFrame transform taking the
typed ``commits`` (schemas.COMMIT) and/or ``geo`` (schemas.COMMIT_GEO)
frames. The streaming forms (same logical plans under Structured
Streaming) live in ``flink_assignment_spark.streaming``.

Every query cites the reference implementation it reproduces
(``/root/reference/src/main/scala/FlinkAssignment.scala``). All logic
is built-in Catalyst expressions — zero Python UDFs — so the plans
are whole-stage-codegen'd and scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import day_str, file_extension, repo_from_url
from ..operators.cep import followed_by
from ..operators.interval_join import interval_join

def EVENT_TS():
    """Event-time column (README.md:112). Function, not module constant:
    building a Column requires an active SparkContext."""
    return F.col("commit.committer.date")


def dummy_question(commits: DataFrame) -> DataFrame:
    """commit → sha (reference FlinkAssignment.scala:54-56)."""
    return commits.select("sha")


def question_one(commits: DataFrame) -> DataFrame:
    """Commits with >= 20 additions → sha (reference :62-66).

    ``stats.exists(_.additions >= 20)``: a null ``stats`` must drop
    the row, which SQL 3-valued logic does for free.
    """
    return commits.filter(F.col("stats.additions") >= 20).select("sha")


def question_two(commits: DataFrame) -> DataFrame:
    """Filenames of files with > 30 deletions (reference :72-77).

    ``flatMap(_.files)`` → explode; ``flatMap(_.filename)`` over the
    Option → drop null filenames.
    """
    return (
        commits.select(F.explode("files").alias("f"))
        .filter(F.col("f.deletions") > 30)
        .filter(F.col("f.filename").isNotNull())
        .select(F.col("f.filename").alias("filename"))
    )


def _java_scala_files(commits: DataFrame) -> DataFrame:
    """Shared Q3 prefix: explode files, extract extension, keep java/scala
    (reference :83-94)."""
    return (
        commits.select(EVENT_TS().alias("ts"), F.explode("files").alias("f"))
        .filter(F.col("f.filename").isNotNull())
        .withColumn("ext", file_extension(F.col("f.filename")))
        .filter(F.col("ext").isin("java", "scala"))
    )


def question_three(commits: DataFrame) -> DataFrame:
    """Final count of java/scala files (reference :83-96 endpoint).

    The reference's ``keyBy(_._1).sum(1)`` emits a *running* count per
    element; its final refinement per key is this groupBy. See
    :func:`question_three_running` for the per-element form.
    """
    return _java_scala_files(commits).groupBy("ext").agg(F.count("*").alias("count"))


def question_three_running(commits: DataFrame) -> DataFrame:
    """Per-element running count, the exact output sequence of the
    reference's keyed state (README.md:86-92: (java,1),(java,2),...).

    Batch analogue of Flink keyed-state ``sum``: an unbounded
    preceding window ordered by event time. In streaming this is an
    update-mode groupBy count (see streaming.question_three_stream).
    """
    w = (
        Window.partitionBy("ext")
        .orderBy("ts", "f.sha")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _java_scala_files(commits).select("ext", F.count("*").over(w).alias("count"))


def _js_py_files(commits: DataFrame) -> DataFrame:
    """Shared Q4 prefix (reference :103-112): keep .js/.py files, derive
    (ext, status, changes) with status null → 'unknown'."""
    f = F.col("f")
    return (
        commits.select(EVENT_TS().alias("ts"), F.explode("files").alias("f"))
        .filter(f.filename.endswith(".js") | f.filename.endswith(".py"))
        .select(
            "ts",
            # the reference emits the literal ".js"/".py" (the else-branch
            # is sound only because of the preceding filter) — :107-110
            F.when(f.filename.endswith(".js"), ".js").otherwise(".py").alias("ext"),
            F.coalesce(f.status, F.lit("unknown")).alias("status"),
            f.changes.alias("changes"),
        )
    )


def question_four(commits: DataFrame) -> DataFrame:
    """Total changes per (extension, status) for .js/.py files
    (reference :103-114 endpoint; running form mirrors Q3)."""
    return (
        _js_py_files(commits)
        .groupBy("ext", "status")
        .agg(F.sum("changes").alias("sum_changes"))
    )


def question_five(commits: DataFrame) -> DataFrame:
    """Commits per day, 1-day tumbling event-time window over all
    commits (reference :122-134). Output (date 'dd-MM-yyyy', count).

    ``windowAll`` = global (non-keyed) window → groupBy(window) with no
    extra key; both Flink and Spark windows are epoch-aligned UTC.
    """
    return (
        commits.groupBy(F.window(EVENT_TS(), "1 day").alias("w"))
        .agg(F.count("*").alias("count"))
        .select(day_str(F.col("w.start")).alias("date"), "count")
    )


def question_six(commits: DataFrame) -> DataFrame:
    """Small (total<=20) vs large commit counts over 48h sliding
    windows evaluated every 12h (reference :141-155).

    Missing stats ⇒ total 0 ⇒ small (``:148``). Each event lands in 4
    overlapping windows; output one (type, count) per (window, type).
    """
    typed = commits.select(
        EVENT_TS().alias("ts"),
        F.when(F.coalesce(F.col("stats.total"), F.lit(0)) > 20, "large")
        .otherwise("small")
        .alias("commit_type"),
    )
    return (
        typed.groupBy(F.window("ts", "48 hours", "12 hours").alias("w"), "commit_type")
        .agg(F.count("*").alias("count"))
        .select(F.col("w.start").alias("window_start"), "commit_type", "count")
    )


def question_seven(commits: DataFrame) -> DataFrame:
    """Daily per-repo CommitSummary with HAVING-style post-filter
    (reference :172-239).

    Two-level aggregation replaces the reference's full-pane
    ProcessWindowFunction buffering (``:192-238``) — level 1 reduces
    per (repo, day, committer) map-side, so no group ever materializes
    more than its distinct-committer count; this is the plan shape
    that survives 100 TB, unlike collect_list over raw commits.

    Tie-break: committers with the max count, alphabetically sorted,
    comma-joined (``:218-224``). Emit only groups with > 20 commits
    and <= 2 committers (``:217``).
    """
    per_committer = (
        commits.select(
            repo_from_url(F.col("url")).alias("repo"),
            F.window(EVENT_TS(), "1 day").alias("w"),
            F.col("commit.committer.name").alias("committer"),
            F.coalesce(F.col("stats.total"), F.lit(0)).alias("total"),
        )
        .groupBy("repo", "w", "committer")
        .agg(F.count("*").alias("cnt"), F.sum("total").alias("changes"))
    )
    max_cnt = Window.partitionBy("repo", "w")
    summary = (
        per_committer.withColumn("max_cnt", F.max("cnt").over(max_cnt))
        .groupBy("repo", "w")
        .agg(
            F.sum("cnt").cast("int").alias("amountOfCommits"),
            F.count("*").cast("int").alias("amountOfCommitters"),
            F.sum("changes").cast("int").alias("totalChanges"),
            F.array_join(
                F.sort_array(
                    F.collect_list(F.when(F.col("cnt") == F.col("max_cnt"), F.col("committer")))
                ),
                ",",
            ).alias("mostPopularCommitter"),
        )
        .filter((F.col("amountOfCommits") > 20) & (F.col("amountOfCommitters") <= 2))
    )
    return summary.select(
        "repo",
        day_str(F.col("w.start")).alias("date"),
        "amountOfCommits",
        "amountOfCommitters",
        "totalChanges",
        "mostPopularCommitter",
    )


def question_eight(commits: DataFrame, geo: DataFrame) -> DataFrame:
    """Weekly changes to .java files per continent via an event-time
    interval join (reference :249-291).

    Join condition (``:274-277``): geo.createdAt ∈
    [commit_ts − 1h, commit_ts + 30m], equi on sha
    (:func:`~..operators.interval_join.interval_join`). Catalyst plans
    the equi-part as a broadcast/sort-merge join and applies the band
    as a post-join filter; in streaming the band bounds join state.

    Window timestamp: Flink's interval join assigns
    max(left_ts, right_ts) to the joined element, which then feeds the
    7-day tumbling window (``:288-290``).
    """
    java_files = (
        commits.select(EVENT_TS().alias("commit_ts"), "sha", F.explode("files").alias("f"))
        .filter(F.col("f.filename").isNotNull() & F.col("f.filename").endswith(".java"))
        .select("sha", "commit_ts", F.col("f.changes").alias("changes"))
    )
    geo_ev = geo.select("sha", F.col("createdAt").alias("geo_ts"), "continent")
    joined = interval_join(
        java_files, geo_ev, ["sha"], "commit_ts", "geo_ts", -3600, 1800
    ).select(
        "continent",
        "changes",
        F.greatest("commit_ts", "geo_ts").alias("joined_ts"),
    )
    return (
        joined.groupBy(F.window("joined_ts", "7 days").alias("w"), "continent")
        .agg(F.sum("changes").cast("int").alias("changes"))
        .select(F.col("w.start").alias("window_start"), "continent", "changes")
    )


def question_nine(commits: DataFrame) -> DataFrame:
    """Files added then removed within one day (reference :304-348).

    The reference uses Flink CEP ``begin("added").followedBy("removed")
    .within(Time.days(1))`` keyed by (repo, filename): each "added"
    event opens a partial match that pairs with the FIRST subsequent
    "removed" within 1 day (relaxed contiguity, no-skip). Batch
    equivalent (:func:`~..operators.cep.followed_by`): band self-join
    added×removed, keep min(removed_ts) per added event, emit
    (repo, filename) per match.
    """
    base = (
        commits.select(
            repo_from_url(F.col("url")).alias("repo"),
            EVENT_TS().alias("ts"),
            F.explode("files").alias("f"),
        )
        .filter(F.col("f.filename").isNotNull())
        .select("repo", F.col("f.filename").alias("filename"), F.col("f.status").alias("status"), "ts")
    )
    matches = followed_by(
        base, ["repo", "filename"], "ts", "status", "added", "removed", 86400
    )
    return matches.select("repo", "filename")
