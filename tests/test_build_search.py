"""End-to-end: build index over sf0.001 documents → match queries →
compare against an exhaustive DuckDB BM25 oracle; WAND vs exhaustive
rank-identity; per-row sha256 invariant; micro-corpus hand-checked scores."""

import math
import os

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from opensearch_spark.index.build import IndexConfig, InvertedIndex, build_index
from opensearch_spark.oracle import match_sql
from opensearch_spark.search import Match, Searcher
from opensearch_spark.search.fetchphase import source_filter

DOCS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001") + "/documents.parquet"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "documents_index")
    corpus = spark.read.parquet(DOCS)
    idx = build_index(
        spark,
        corpus,
        out,
        IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                    keyword_cols=("lang", "source"), n_parts=4,
                    bucket_span=64, with_positions=True),
    )
    return idx


@pytest.fixture(scope="module")
def searcher(spark, index):
    return Searcher(spark, index)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    return con


def oracle_rows(duck, sql):
    return sorted(duck.sql(sql).fetchall())


def spark_rows(df):
    return sorted((r["doc_id"], r["score"]) for r in df.collect())


def ranked(df):
    """(doc_id, score) in the order the frame returns them."""
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_stats_match_duckdb(index, duck):
    n, sumdl = duck.sql(
        "SELECT count(*), sum(len(string_split_regex(trim(text), '\\s+'))) FROM documents"
    ).fetchone()
    assert index.doc_count == n
    assert index.meta["sum_dl"] == sumdl
    assert index.avgdl == pytest.approx(sumdl / n, abs=0)


def test_sha256_invariant(spark, index):
    corpus = spark.read.parquet(DOCS)
    assert index.verify_sha256(spark, corpus, field="text") == 0


def test_docs_and_dictionary_consistent(spark, index, duck):
    d = index.dictionary(spark)
    # df of a known term matches duckdb
    row = duck.sql("""
        SELECT term, count(DISTINCT doc_id) FROM (
          SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents
        ) WHERE term = 'spark' GROUP BY term
    """).fetchone()
    got = d.where(F.col("term") == "spark").collect()[0]
    assert got["df"] == row[1]


def test_wand_k0_returns_empty_not_crash(searcher, spark_leg):
    """size=0 is a legal request (aggregation-only searches): WAND must
    return an empty frame on both legs, not crash on an empty top-k heap
    (round-4 review finding — _TopK.threshold IndexError)."""
    out = searcher.search(Match(field="text", text="spark table"),
                          k=0, mode="wand")
    assert out.count() == 0
    with spark_leg():
        out = searcher.search(Match(field="text", text="spark table"),
                              k=0, mode="wand")
        assert out.count() == 0
    exh = searcher.search(Match(field="text", text="spark table"),
                          k=0, mode="exhaustive")
    assert exh.count() == 0


def test_wand_boost_zero_matches_exhaustive(searcher, spark_leg):
    """boost=0 zeroes every WAND upper bound; the engine must fall back
    to ``score()``'s plan so both modes return the same score-0 docs
    (round-4 review finding — WAND returned empty)."""
    q = Match(field="text", text="spark", boost=0.0)
    wand = ranked(searcher.search(q, k=10, mode="wand"))
    with spark_leg():
        refused = ranked(searcher.search(q, k=10, mode="wand"))
    exh = ranked(searcher.search(q, k=10, mode="exhaustive"))
    assert wand == refused == exh
    assert wand and all(s == 0.0 for _, s in wand)


def test_term_case_insensitive_on_text_field(searcher, duck):
    """case_insensitive=true on the ANALYZED text field: the reference
    compiles a case-insensitive automaton (AutomatonQueries.
    caseInsensitiveTermQuery), so 'SPARK' must match every doc holding
    the token 'spark' with constant score — while the plain (cased)
    literal lookup matches nothing (ADVICE r3 fix)."""
    from opensearch_spark.search import queries as Q

    want = {r[0] for r in duck.sql("""
        SELECT DISTINCT doc_id FROM (
          SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
          FROM documents) WHERE term = 'spark'
    """).fetchall()}
    assert want, "corpus must contain the token"
    ci = searcher.search(Q.Term(field="text", value="SPARK",
                                case_insensitive=True),
                         k=len(want) + 10)
    rows = ci.collect()
    assert {r["doc_id"] for r in rows} <= want
    assert len(rows) == min(len(want), len(want) + 10)
    assert all(r["score"] == 1.0 for r in rows)
    cased = searcher.search(Q.Term(field="text", value="SPARK"), k=10)
    assert cased.count() == 0


@pytest.mark.parametrize(
    "text,op,msm",
    [
        ("spark table", "or", 0),
        ("spark table", "and", 0),
        ("merge sort window batch", "or", 3),
        ("spark", "or", 0),
        ("nonexistentterm42", "or", 0),
        ("spark nonexistentterm42", "or", 0),
    ],
)
def test_match_vs_duckdb_oracle(searcher, duck, text, op, msm):
    terms = searcher.analyze(text)
    n_req = len(set(terms)) if op == "and" else max(msm, 1)
    want = oracle_rows(duck, match_sql(terms, k=10, n_required=n_req))
    q = Match(field="text", text=text, operator=op, minimum_should_match=msm)
    got = spark_rows(searcher.search(q, k=10, mode="exhaustive", round_scores=4))
    assert got == want


@pytest.mark.parametrize(
    "text,op",
    [("spark table", "or"), ("spark table", "and"),
     ("merge sort window batch fast slow", "or"), ("the a value", "or")],
)
def test_wand_identical_to_exhaustive(searcher, spark_leg, text, op):
    """Driver WAND ≡ the refused leg (``score()``'s plan) ≡ exhaustive,
    in rank order."""
    q = Match(field="text", text=text, operator=op)
    ex = ranked(searcher.search(q, k=10, mode="exhaustive", round_scores=4))
    wd = ranked(searcher.search(q, k=10, mode="wand", round_scores=4))
    with spark_leg():
        refused = ranked(searcher.search(q, k=10, mode="wand", round_scores=4))
    assert wd == refused == ex


@pytest.mark.parametrize(
    "text,op,msm,k",
    [("spark nonexistentterm42", "and", 0, 10),   # and with an absent term
     ("spark table merge sort", "or", "75%", 10),  # msm percentage
     ("spark table merge sort", "or", "-50%", 25),
     ("spark table", "and", 0, 10_000),            # k above the match count
     ("merge window", "or", 2, 10_000)],
)
def test_wand_paths_rank_identical_edge_cases(searcher, spark_leg,
                                              text, op, msm, k):
    q = Match(field="text", text=text, operator=op, minimum_should_match=msm)
    ex = ranked(searcher.search(q, k=k, mode="exhaustive", round_scores=4))
    wd = ranked(searcher.search(q, k=k, mode="wand", round_scores=4))
    with spark_leg():
        refused = ranked(searcher.search(q, k=k, mode="wand", round_scores=4))
    assert wd == refused == ex
    if k > 1000:
        assert 0 < len(ex) < k


def test_fetch_phase(spark, searcher):
    q = Match(field="text", text="spark table")
    hits = searcher.search(q, k=5)
    fetched = source_filter(searcher.index.docs(spark), hits,
                            includes=["text", "lang"])
    rows = fetched.collect()
    assert len(rows) == 5
    assert all(r["text"] is not None for r in rows)


def test_explain_components(searcher):
    q = Match(field="text", text="spark")
    ex = searcher.explain(q)
    r = ex.orderBy("doc_id").first()
    # idf consistent with dictionary df
    df = searcher.term_dfs(["spark"])["spark"]
    want = math.log(1 + (searcher.N - df + 0.5) / (df + 0.5))
    assert r["idf"] == pytest.approx(want, abs=1e-12)


def test_explain_boosted_sums_to_score(searcher):
    """explain's tscore carries the query boost: for a boosted Match each
    doc's Σ tscore equals its score(q) row."""
    q = Match(field="text", text="spark table", boost=2.0)
    ex = searcher.explain(q).groupBy("doc_id").agg(F.sum("tscore").alias("s"))
    got = {r["doc_id"]: r["s"] for r in ex.collect()}
    want = {r["doc_id"]: r["score"] for r in searcher.score(q).collect()}
    assert got.keys() == want.keys() and want
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


_SIMILARITIES = {
    "lm_dirichlet": lambda s, q: s.score_lm_dirichlet(q),
    "lm_jelinek_mercer": lambda s, q: s.score_lm_jelinek_mercer(q),
    "dfr": lambda s, q: s.score_dfr(q),
    "ib": lambda s, q: s.score_ib(q),
    "dfi": lambda s, q: s.score_dfi(q),
    "scripted": lambda s, q: s.score_scripted_similarity(q, "tf * df"),
    "explain": lambda s, q: s.explain(q),
}


@pytest.mark.parametrize("name", list(_SIMILARITIES))
def test_similarities_apply_match_operator(searcher, name):
    """Every similarity and explain keep the match rule of score():
    ``operator: and`` with an absent term matches nothing, and
    ``minimum_should_match: 2`` keeps only the docs holding both terms."""
    run = _SIMILARITIES[name]
    absent = Match(field="text", text="spark zzzabsentzzz", operator="and")
    assert searcher.score(absent).count() == 0
    assert run(searcher, absent).count() == 0
    both = Match(field="text", text="spark table", minimum_should_match=2)
    want = {r["doc_id"] for r in searcher.score(both).collect()}
    assert len(want) == 319
    got = {r["doc_id"] for r in run(searcher, both).select("doc_id").collect()}
    assert got == want


def test_search_rejects_unknown_mode(searcher):
    with pytest.raises(ValueError, match="exhaustve"):
        searcher.search(Match(field="text", text="spark"), mode="exhaustve")


def test_micro_corpus_hand_scores(spark, tmp_path):
    """FIXTURES.md §5-style: 5 docs, hand-computed BM25 (exact mode)."""
    rows = [
        ("d0", "spark spark index"),
        ("d1", "spark query"),
        ("d2", "index merge sort query"),
        ("d3", "bm25 scoring spark bm25"),
        ("d4", "merge"),
    ]
    corpus = spark.createDataFrame(rows, "name string, body string")
    idx = build_index(
        spark, corpus, str(tmp_path / "micro"),
        IndexConfig(field="body", analyzer="standard", order_cols=("name",),
                    n_parts=2, bucket_span=4),
    )
    s = Searcher(spark, idx)
    assert idx.doc_count == 5 and idx.avgdl == pytest.approx(14 / 5)

    def hand(tf, dl, df):
        idf = math.log(1 + (5 - df + 0.5) / (df + 0.5))
        return idf * 2.2 * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.8))

    got = {r["doc_id"]: r["score"]
           for r in s.search(Match(field="body", text="spark"), k=10).collect()}
    assert got[0] == pytest.approx(hand(2, 3, 3), abs=1e-12)  # d0
    assert got[1] == pytest.approx(hand(1, 2, 3), abs=1e-12)  # d1
    assert got[3] == pytest.approx(hand(1, 4, 3), abs=1e-12)  # d3
    assert set(got) == {0, 1, 3}
    # deterministic doc_id order by name
    names = {r["doc_id"]: r["name"] for r in idx.docs(spark).collect()}
    assert names == {0: "d0", 1: "d1", 2: "d2", 3: "d3", 4: "d4"}


def test_disk_cache_level_identical_index(spark, tmp_path):
    """cache_level='disk' (DISK_ONLY analyzed cache — the big-corpus
    posture, see BENCH.md memory-wall fix) must produce a bit-identical
    index to the default memory level."""
    from opensearch_spark.datagen import generate_corpus
    from opensearch_spark.index.build import IndexConfig, build_index

    corpus = generate_corpus(spark, 400, n_partitions=4).persist()
    corpus.count()
    outs = {}
    for lvl in ("memory", "disk"):
        idx = build_index(
            spark, corpus, str(tmp_path / f"lvl_{lvl}"),
            IndexConfig(field="content", analyzer="standard_code",
                        order_cols=("repo", "path", "commit"),
                        n_parts=4, cache_level=lvl))
        post = spark.read.parquet(str(tmp_path / f"lvl_{lvl}" / "postings"))
        outs[lvl] = sorted(
            (r["term"], r["bucket"], r["first_doc"], bytes(r["docs_vb"]),
             bytes(r["tfs_vb"])) for r in post.collect())
        assert idx.doc_count == 400
    corpus.unpersist()
    assert outs["memory"] == outs["disk"]


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.sampled_from(
        ["spark", "table", "merge", "sort", "window", "batch", "value",
         "fast", "slow", "the", "hash", "row", "scan"]),
        min_size=1, max_size=5),
    st.sampled_from(["or", "and"]),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=25),
)
def test_wand_exhaustive_property(searcher, spark_leg, words, op,
                                  msm, k):
    """Block-max WAND in the driver, and the plan a refused driver leg
    runs, must be rank-identical to exhaustive scoring for ANY term multiset, operator,
    minimum_should_match and k (strict upper bounds — pruning can never
    change the result set)."""
    q = Match(field="text", text=" ".join(words), operator=op,
              minimum_should_match=msm if op == "or" else 0)
    ex = ranked(searcher.search(q, k=k, mode="exhaustive", round_scores=4))
    wd = ranked(searcher.search(q, k=k, mode="wand", round_scores=4))
    with spark_leg():
        refused = ranked(searcher.search(q, k=k, mode="wand", round_scores=4))
    assert wd == refused == ex


def test_match_only_text_postings_have_unit_tf(spark, tmp_path):
    """index_options='docs' (match_only_text): every decoded posting tf is 1,
    dictionary cf == df, and positions are refused at build time."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from opensearch_spark.index.build import IndexConfig, build_index
    from opensearch_spark.search import Match, Searcher

    corpus = spark.createDataFrame(
        [(0, "spark spark spark table"), (1, "spark table table"),
         (2, "merge merge")],
        "doc_id long, text string")
    idx = build_index(
        spark, corpus, str(tmp_path / "mot"),
        IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                    n_parts=2, index_options="docs"))
    d = idx.dictionary(spark).collect()
    assert all(r["cf"] == r["df"] for r in d)
    s = Searcher(spark, idx)
    flat = s._flat_postings(["spark", "table", "merge"]).collect()
    assert flat and all(r["tf"] == 1 for r in flat)
    # dl keeps the full token count (norms unaffected by dropped freqs)
    assert {r["doc_id"]: r["dl"] for r in flat if True}[0] == 4

    with _pytest.raises(ValueError):
        build_index(spark, corpus, str(tmp_path / "bad"),
                    IndexConfig(field="text", analyzer="standard",
                                id_col="doc_id", with_positions=True,
                                index_options="docs"))


def test_upsert_versioned_semantics(spark):
    from opensearch_spark.index.versioning import upsert_versioned

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 3), (3, "c", 1)],
        "doc_id long, text string, version int")
    upd = spark.createDataFrame(
        [(1, "a2", 2), (2, "b-stale", 2), (3, "c-tie", 1), (4, "new", 1)],
        "doc_id long, text string, version int")
    got = {r["doc_id"]: (r["text"], r["version"])
           for r in upsert_versioned(base, upd).collect()}
    assert got == {
        1: ("a2", 2),       # higher version wins
        2: ("b", 3),        # stale update loses
        3: ("c-tie", 1),    # equal version: updates side wins
        4: ("new", 1),      # insert
    }


def test_upsert_versioned_schema_mismatch(spark):
    import pytest as _pytest

    from opensearch_spark.index.versioning import upsert_versioned

    base = spark.createDataFrame([(1, 1)], "doc_id long, version int")
    upd = spark.createDataFrame([(1, 1, "x")],
                                "doc_id long, version int, extra string")
    with _pytest.raises(ValueError):
        upsert_versioned(base, upd)


def test_routing_colocates_equal_keys(spark):
    from opensearch_spark.index.versioning import routing_partition

    df = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(50)], "doc_id long, rt string")
    out = routing_partition(df, "rt", 4).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["rt"], set()).add(r["shard"])
    assert all(len(s) == 1 for s in by_key.values())
    assert all(0 <= r["shard"] < 4 for r in out)


def test_snapshot_restore_roundtrip(spark, tmp_path):
    """Snapshot → verify → restore: byte-identical servable index;
    corruption is detected."""
    import os

    import pytest as _pytest

    from opensearch_spark.index.build import IndexConfig, InvertedIndex, build_index
    from opensearch_spark.index.snapshot import (
        restore_index, snapshot_index, verify_snapshot)
    from opensearch_spark.search import Match, Searcher

    corpus = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(20)],
        "doc_id long, text string")
    src = str(tmp_path / "idx")
    idx = build_index(spark, corpus, src,
                      IndexConfig(field="text", analyzer="standard",
                                  id_col="doc_id", n_parts=2))
    snap = str(tmp_path / "snap")
    snapshot_index(src, snap)
    assert verify_snapshot(snap) == 0
    rest = restore_index(snap, str(tmp_path / "rest"))
    a = Searcher(spark, idx).search(
        Match(field="text", text="alpha"), k=5, round_scores=4).collect()
    b = Searcher(spark, InvertedIndex(rest)).search(
        Match(field="text", text="alpha"), k=5, round_scores=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # corrupt one byte -> verification counts it and restore refuses
    victim = next(
        os.path.join(dp, f) for dp, _, fs in os.walk(snap) for f in fs
        if f.endswith(".parquet"))
    with open(victim, "r+b") as f:
        f.seek(0)
        f.write(b"\xff")
    assert verify_snapshot(snap) >= 1
    with _pytest.raises(ValueError):
        restore_index(snap, str(tmp_path / "rest2"))


# ---------------- resize-safe routing (_split / _shrink) ----------------
class TestResizeRouting:
    def test_invariants_hold_for_every_doc(self, spark, sf_dir):
        """IndexMetadata.selectSplitShard/selectShrinkShards: split 4->8
        keeps docs inside the parent's child pair; shrink 4->2 merges
        parent pairs — no cross-shard movement, ever."""
        from opensearch_spark.index.versioning import resize_routing

        d = resize_routing(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id"), "doc_id", 4, 8)
        from pyspark.sql import functions as F
        bad = d.where(
            (F.col("child_shard") != F.col("parent_shard") * 2)
            & (F.col("child_shard") != F.col("parent_shard") * 2 + 1)).count()
        assert bad == 0
        s = resize_routing(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id"), "doc_id", 4, 2)
        bad = s.where(
            F.col("child_shard") != F.floor(F.col("parent_shard") / 2)
            .cast("int")).count()
        assert bad == 0
        # all shards populated at every size (the hash spreads)
        assert d.select("child_shard").distinct().count() == 8

    def test_divisibility_enforced(self, spark):
        from pyspark.sql import functions as F

        from opensearch_spark.index.versioning import routing_bucket, shard_for

        with pytest.raises(ValueError):
            shard_for(routing_bucket("doc_id"), 3)

    def test_equal_routing_keys_colocate(self, spark):
        """Custom routing: same routing value -> same shard at every
        resize level (the colocation contract routed queries rely on)."""
        from pyspark.sql import functions as F

        from opensearch_spark.index.versioning import resize_routing

        df = spark.createDataFrame(
            [(i, f"user{i % 7}") for i in range(200)], "doc_id long, u string")
        r = resize_routing(df, "u", 4, 8)
        assert (r.groupBy("u")
                .agg(F.countDistinct("parent_shard").alias("p"),
                     F.countDistinct("child_shard").alias("c"))
                .where((F.col("p") > 1) | (F.col("c") > 1)).count()) == 0


def test_snapshot_detects_unlisted_files_and_rejects_traversal(spark, tmp_path):
    """Corruption by ADDITION counts as corruption; manifest relpaths that
    escape the target are refused (hostile/corrupt manifest safety)."""
    import json
    import os

    import pytest as _pytest

    from opensearch_spark.index.build import IndexConfig, build_index
    from opensearch_spark.index.snapshot import (
        SNAP_MANIFEST, UrlRepository, snapshot_index, verify_snapshot)

    corpus = spark.createDataFrame(
        [(i, f"gamma delta doc{i}") for i in range(10)],
        "doc_id long, text string")
    src = str(tmp_path / "idx_t")
    build_index(spark, corpus, src,
                IndexConfig(field="text", analyzer="standard",
                            id_col="doc_id", n_parts=2))
    snap = str(tmp_path / "snap_t")
    snapshot_index(src, snap)
    assert verify_snapshot(snap) == 0
    # inject a file the manifest does not list
    with open(os.path.join(snap, "postings_injected.bin"), "wb") as f:
        f.write(b"evil")
    assert verify_snapshot(snap) >= 1

    # hostile manifest: traversal and absolute paths are refused by
    # restore instead of writing outside dest
    evil_dir = tmp_path / "evil_repo"
    evil_dir.mkdir()
    man = {"source": "x", "files": {
        "../outside.txt": {"bytes": 4, "md5": "0" * 32}}}
    (evil_dir / SNAP_MANIFEST).write_text(json.dumps(man))
    repo = UrlRepository(f"file://{evil_dir}")
    with _pytest.raises(ValueError, match="escapes|absolute"):
        repo.restore(str(tmp_path / "rest_t"))
    assert not (tmp_path / "outside.txt").exists()

    man2 = {"source": "x", "files": {
        "/etc/injected": {"bytes": 4, "md5": "0" * 32}}}
    (evil_dir / SNAP_MANIFEST).write_text(json.dumps(man2))
    with _pytest.raises(ValueError, match="absolute"):
        UrlRepository(f"file://{evil_dir}").restore(str(tmp_path / "rest_u"))


def test_snapshot_failure_cleans_partial_target(spark, tmp_path, monkeypatch):
    import os

    import pytest as _pytest

    from opensearch_spark.index import snapshot as SN
    from opensearch_spark.index.build import IndexConfig, build_index

    corpus = spark.createDataFrame(
        [(i, f"epsilon doc{i}") for i in range(5)],
        "doc_id long, text string")
    src = str(tmp_path / "idx_f")
    build_index(spark, corpus, src,
                IndexConfig(field="text", analyzer="standard",
                            id_col="doc_id", n_parts=1))
    snap = str(tmp_path / "snap_f")

    def boom(path):
        raise OSError("disk full")
    monkeypatch.setattr(SN, "_file_md5", boom)
    with _pytest.raises(OSError):
        SN.snapshot_index(src, snap)
    assert not os.path.exists(snap)  # partial target removed, retry unblocked
    monkeypatch.undo()
    SN.snapshot_index(src, snap)     # retry succeeds
    assert SN.verify_snapshot(snap) == 0


def test_upsert_versioned_unorderable_payload_and_lww(spark):
    """LWW is decided by (version, writer) ALONE: payload columns must
    neither influence the winner nor need to be orderable (map payloads
    break a max-of-struct comparator)."""
    from opensearch_spark.index.versioning import upsert_versioned

    base = spark.sql("""
        SELECT id AS doc_id, 1 AS version,
               map('k', concat('base', id)) AS attrs,
               'zzz' AS payload
        FROM range(4)""")
    upd = spark.sql("""
        SELECT id AS doc_id, CASE WHEN id < 2 THEN 2 ELSE 1 END AS version,
               map('k', concat('upd', id)) AS attrs,
               'aaa' AS payload
        FROM range(4)""")
    out = {r.doc_id: (r.version, r.attrs["k"], r.payload)
           for r in upsert_versioned(base, upd).collect()}
    # ids 0,1: update wins by version; ids 2,3: version tie → writer=1
    # wins even though its payload 'aaa' sorts BELOW base's 'zzz'
    assert out[0] == (2, "upd0", "aaa")
    assert out[3] == (1, "upd3", "aaa")
    assert len(out) == 4


def test_versioning_round4_guards(spark):
    """Round-4 review: reserved '_writer' collision fails loudly; NULL
    routing raises unless the _id fallback is given (the reference's
    missing-_routing behavior)."""
    from pyspark.sql.utils import AnalysisException

    from opensearch_spark.index.versioning import (routing_bucket,
                                                   upsert_versioned)

    base = spark.createDataFrame(
        [(1, 1, "a", 0)], "doc_id long, version long, v string, _writer int")
    with pytest.raises(ValueError, match="_writer"):
        upsert_versioned(base, base)

    df = spark.createDataFrame([(1, "r1"), (2, None)],
                               "doc_id long, route string")
    # fallback: NULL routing routes by id, deterministically
    out = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", routing_bucket("route", id_col="doc_id").alias("b"))
        .collect()}
    assert out[2] is not None
    exp = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", routing_bucket("doc_id").alias("b")).collect()}
    assert out[2] == exp[2]
    # no fallback: the NULL row raises at evaluation time
    import py4j.protocol
    with pytest.raises(Exception):
        df.select(routing_bucket("route").alias("b")).collect()


def test_bool_tree_randomized_match_set_vs_bruteforce(spark, sf_dir):
    """Seeded randomized bool algebra: 80 random must/should/must_not/
    filter trees (nested one level, random msm) over keyword/range/exists
    leaves, match SET compared against an independent Python evaluation
    of the same tree on the collected rows — guards the msm defaulting
    rule (0 with must/filter present, else 1) and the four-clause
    combination logic far beyond the hand-written cases."""
    import random

    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import queries as Q

    s = get_searcher(spark, sf_dir)
    rows = [r.asDict() for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "lang", "source", "n_chars").collect()]
    langs = sorted({r["lang"] for r in rows})
    sources = sorted({r["source"] for r in rows})
    rng = random.Random(0xB001)

    def leaf():
        k = rng.random()
        if k < 0.4:
            v = rng.choice(langs)
            return Q.Term("lang", v), lambda r, v=v: r["lang"] == v
        if k < 0.6:
            v = rng.choice(sources)
            return Q.Term("source", v), lambda r, v=v: r["source"] == v
        if k < 0.9:
            lo = rng.randint(0, 400)
            hi = lo + rng.randint(0, 300)
            return (Q.Range("n_chars", gte=lo, lte=hi),
                    lambda r, lo=lo, hi=hi: lo <= r["n_chars"] <= hi)
        return Q.Exists("lang"), lambda r: r["lang"] is not None

    def tree(depth):
        if depth == 0 or rng.random() < 0.5:
            return leaf()
        clauses = {"must": [], "should": [], "must_not": [], "filter": []}
        preds = {k: [] for k in clauses}
        for _ in range(rng.randint(1, 4)):
            kind = rng.choice(list(clauses))
            qq, pp = tree(depth - 1)
            clauses[kind].append(qq)
            preds[kind].append(pp)
        msm = (rng.randint(1, len(clauses["should"]))
               if clauses["should"] and rng.random() < 0.5 else None)
        q = Q.Bool(must=clauses["must"], should=clauses["should"],
                   must_not=clauses["must_not"], filter=clauses["filter"],
                   minimum_should_match=msm)

        def ev(r, preds=preds, msm=msm):
            if preds["should"]:
                eff = msm if msm is not None else (
                    0 if (preds["must"] or preds["filter"]) else 1)
                if not (preds["must"] or preds["filter"]):
                    # Lucene disjunction rule: with only optional clauses
                    # at least one must match, even under explicit msm=0
                    eff = max(eff, 1)
                should_ok = sum(1 for p in preds["should"] if p(r)) >= eff
            else:
                should_ok = True  # msm is vacuous with no should clauses
            return (should_ok
                    and all(p(r) for p in preds["must"])
                    and all(p(r) for p in preds["filter"])
                    and not any(p(r) for p in preds["must_not"]))

        return q, ev

    for case in range(80):
        q, ev = tree(2)
        got = {r["doc_id"] for r in s.matching_docs(q).collect()}
        want = {r["doc_id"] for r in rows if ev(r)}
        assert got == want, f"case {case}: {q}"


def test_wand_randomized_rank_identical_to_exhaustive(spark, sf_dir,
                                                      spark_leg):
    """Seeded randomized block-max WAND check: for random multi-term
    match queries (1-5 terms, mixed hot/rare, or/and msm), WAND top-k
    must be RANK-IDENTICAL to the exhaustive scorer with scores equal
    to 6dp — the north-star invariant, far beyond the single gate
    query."""
    import random

    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import queries as Q

    s = get_searcher(spark, sf_dir)
    rng = random.Random(0x3A2D)
    vocab = ["spark", "merge", "table", "query", "index", "vector",
             "batch", "stream", "shard", "segment"]
    for case in range(20):
        terms = rng.sample(vocab, rng.randint(1, 5))
        text = " ".join(terms)
        op = rng.choice(["or", "and"])
        msm = rng.randint(1, len(terms)) if op == "or" else None
        q = Q.Match("text", text, operator=op,
                    minimum_should_match=msm or 1)
        k = rng.choice([3, 10, 25])
        w = [(r["doc_id"], round(r["score"], 6))
             for r in s.search(q, k=k, mode="wand").collect()]
        with spark_leg():
            d = [(r["doc_id"], round(r["score"], 6))
                 for r in s.search(q, k=k, mode="wand").collect()]
        e = [(r["doc_id"], round(r["score"], 6))
             for r in s.search(q, k=k, mode="exhaustive").collect()]
        assert w == d == e, f"case {case}: {text!r} op={op} msm={msm} k={k}"


def test_multiterm_expansion_randomized_vs_bruteforce(spark, sf_dir):
    """Seeded randomized multi-term queries: random prefix, wildcard
    (*/?) and fuzzy (Damerau, 0-2 edits) probes — the engine's match
    set must equal a Python brute force over the full corpus vocabulary
    (prefix/wildcard via fnmatch, fuzzy via a Damerau-Levenshtein DP),
    guarding the dictionary-scan expansion beyond the fixed gates."""
    import fnmatch
    import random

    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import queries as Q

    def damerau(a, b, cap):
        if abs(len(a) - len(b)) > cap:
            return cap + 1
        la, lb = len(a), len(b)
        d = [[0] * (lb + 1) for _ in range(la + 1)]
        for i in range(la + 1):
            d[i][0] = i
        for j in range(lb + 1):
            d[0][j] = j
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                cost = 0 if a[i - 1] == b[j - 1] else 1
                d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                              d[i - 1][j - 1] + cost)
                if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                        and a[i - 2] == b[j - 1]):
                    d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
        return d[la][lb]

    s = get_searcher(spark, sf_dir)
    docs = [(r["doc_id"], set(s.analyze(r["text"])))
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()]
    vocab = sorted(set().union(*[t for _, t in docs]))
    rng = random.Random(0xE4FA)
    for case in range(30):
        base = rng.choice(vocab)
        kind = rng.random()
        if kind < 0.35:
            pat = base[: rng.randint(1, max(1, len(base) - 1))]
            q = Q.Prefix("text", pat)
            keep = {t for t in vocab if t.startswith(pat)}
            label = f"prefix:{pat}"
        elif kind < 0.7:
            chars = list(base)
            i = rng.randrange(len(chars))
            chars[i] = "*" if rng.random() < 0.6 else "?"
            pat = "".join(chars)
            q = Q.Wildcard("text", pat)
            keep = {t for t in vocab
                    if fnmatch.fnmatchcase(t, pat.replace("[", "[[]"))}
            label = f"wildcard:{pat}"
        else:
            fuzz = rng.randint(0, 2)
            q = Q.Fuzzy("text", base, fuzziness=fuzz)
            keep = {t for t in vocab if damerau(base, t, fuzz) <= fuzz}
            label = f"fuzzy:{base}~{fuzz}"
        got = {r["doc_id"] for r in s.matching_docs(q).collect()}
        want = {d for d, toks in docs if toks & keep}
        assert got == want, f"case {case} {label}"


def test_term_suggest_randomized_vs_bruteforce(spark, sf_dir):
    """Seeded randomized term suggester: corrupt real vocabulary words
    with 1-2 random edits and compare suggestions against a Python
    brute force over the dictionary — candidate set (levenshtein <=
    max_edits, length band), ranking (distance asc, df desc, term asc)
    and the size cut must all agree."""
    import random

    from pyspark.sql import functions as F

    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search.suggest import term_suggest

    def lev(a, b):
        la, lb = len(a), len(b)
        d = list(range(lb + 1))
        for i in range(1, la + 1):
            prev, d[0] = d[0], i
            for j in range(1, lb + 1):
                cur = d[j]
                d[j] = min(d[j] + 1, d[j - 1] + 1,
                           prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return d[lb]

    s = get_searcher(spark, sf_dir)
    dict_rows = {r["term"]: r["df"] for r in
                 s.index.dictionary(spark).select("term", "df").collect()}
    vocab = sorted(dict_rows)
    rng = random.Random(0x5E66)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    for case in range(15):
        base = rng.choice([t for t in vocab if len(t) >= 4])
        chars = list(base)
        for _ in range(rng.randint(1, 2)):
            op = rng.random()
            i = rng.randrange(len(chars))
            if op < 0.4:
                chars[i] = rng.choice(alpha)
            elif op < 0.7 and len(chars) > 2:
                del chars[i]
            else:
                chars.insert(i, rng.choice(alpha))
        probe = "".join(chars)
        size, max_edits = rng.choice([1, 3, 5]), 2
        got = [(r["suggestion"], r["distance"], r["df"]) for r in
               term_suggest(s, probe, size=size, max_edits=max_edits,
                            suggest_mode="always")
               .where(F.col("term") == probe)
               .orderBy("rank").collect()]
        cands = [(t, lev(probe, t), dict_rows[t]) for t in vocab
                 if t != probe and abs(len(t) - len(probe)) <= max_edits
                 and lev(probe, t) <= max_edits]
        want = sorted(cands, key=lambda x: (x[1], -x[2], x[0]))[:size]
        assert got == want, f"case {case}: probe={probe!r} size={size}"
