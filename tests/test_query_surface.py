"""Query surface Q1-Q8 against the F1 golden documents
(KafkaIngestorE2ETest.java:300-494)."""

import pytest
from pyspark.sql import Row

from platypus_ingestion_plugins_spark.serving import query as Q

DOCS = [
    Row(id="doc1", title="Machine Learning Basics",
        content="Introduction to neural networks and deep learning concepts",
        category="technology", rating=4.5, tags=["ml", "ai", "tutorial"]),
    Row(id="doc2", title="Cooking Pasta Perfectly",
        content="Tips and tricks for making restaurant-quality pasta at home",
        category="cooking", rating=4.8, tags=["food", "recipe", "italian"]),
    Row(id="doc3", title="Travel Guide: Tokyo",
        content="Best places to visit and authentic food experiences in Tokyo",
        category="travel", rating=4.2, tags=["travel", "japan", "guide"]),
]


@pytest.fixture(scope="module")
def index(spark):
    return spark.createDataFrame(DOCS).cache()


def test_q1_match_all_topk(index):
    assert Q.search(index, Q.match_all(), top=10).count() == 3
    assert Q.search(index, top=2, order_by="id").count() == 2


def test_q1_offset(index):
    hits = Q.search(index, top=2, start_hit=1, order_by="id").collect()
    assert [r.id for r in hits] == ["doc2", "doc3"]


def test_q2_retrieve_fields(index):
    out = Q.search(index, fields=["id", "title"])
    assert out.columns == ["id", "title"]


def test_q3_term(index):
    hits = Q.search(index, Q.term("category", "technology")).collect()
    assert [r.id for r in hits] == ["doc1"]


def test_q4_fulltext_or_semantics(index):
    """'pasta cooking' matches doc2 (contains 'pasta') — OR of analyzed
    terms (KafkaIngestorE2ETest.java:472-492)."""
    hits = Q.search(index, Q.match_text("content", "pasta cooking")).collect()
    assert [r.id for r in hits] == ["doc2"]
    # 'food' appears in doc2? no — content of doc2 lacks 'food'; doc3 has 'food'
    hits = Q.search(index, Q.match_text("content", "food")).collect()
    assert [r.id for r in hits] == ["doc3"]
    # case-insensitivity + punctuation
    hits = Q.search(index, Q.match_text("title", "TOKYO")).collect()
    assert [r.id for r in hits] == ["doc3"]


def test_q5_count(index):
    assert Q.search(index, Q.match_all()).count() == 3


def test_q6_term_in_set(index):
    hits = Q.search(index, Q.term_in_set("id", ["doc1", "doc3"])).collect()
    assert sorted(r.id for r in hits) == ["doc1", "doc3"]


def test_q8_multivalued(index):
    from pyspark.sql import functions as F

    hits = index.filter(F.array_contains("tags", "japan")).collect()
    assert [r.id for r in hits] == ["doc3"]


def test_search_implicit_sort_key_is_first_requested_field(index):
    """With top + fields and no order_by, the implicit sort key is
    fields[0] (the contract from when retrieval ran before ranking),
    not the index's first physical column."""
    hits = Q.search(index, top=2, fields=["rating", "id"]).collect()
    assert [r.rating for r in hits] == [4.2, 4.5]
    desc = Q.search(index, top=1, fields=["rating", "id"], descending=True).collect()
    assert [r.rating for r in desc] == [4.8]


def test_bm25_hand_computed(spark):
    """BM25 against hand arithmetic: two-doc corpus, one query term
    present in one doc — idf and length normalization exact."""
    import math

    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple banana apple"),  # dl=3, tf(apple)=2
            Row(doc_id=2, text="cherry date"),  # dl=2
        ]
    )
    got = {r.doc_id: r.bm25 for r in SQ.bm25_scores(docs, "text", "apple", "doc_id").collect()}
    # N=2, df=1, avgdl=2.5; idf = ln(1 + 1.5/1.5) = ln 2
    idf = math.log(2.0)
    norm = (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / 2.5))
    assert set(got) == {1}  # non-matching doc 2 absent
    assert got[1] == round(idf * norm, 6)


def test_phrase_and_prefix_semantics(spark):
    """match_phrase is token-exact, contiguous, in-order (no substring
    or cross-token-boundary false positives); match_prefix hits any
    token's prefix, case-folded."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a Table SCAN follows"),  # analyzed match
            Row(doc_id=2, text="scan table"),  # wrong order
            Row(doc_id=3, text="table x scan"),  # not contiguous
            Row(doc_id=4, text="portable scanner"),  # substring trap
            Row(doc_id=5, text="the vectorized engine"),  # prefix hit
        ]
    )
    phrase = {r.doc_id for r in docs.filter(SQ.match_phrase("text", "Table scan")).collect()}
    assert phrase == {1}
    prefix = {r.doc_id for r in docs.filter(SQ.match_prefix("text", "VEC")).collect()}
    assert prefix == {5}
    # empty phrase matches everything (Lucene's empty-query degenerate)
    assert docs.filter(SQ.match_phrase("text", "  ")).count() == 5


def test_rrf_fuse_matches_pure_python(spark):
    """rrf_fuse vs a brute-force Python replay: two systems with
    overlapping and disjoint hits, rank by (score desc, id), integer
    floor(1e9/(k+rank)) points, k_candidates trimming the longer list,
    single-system docs carrying n_systems=1."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    lex = [(1, 9.5), (2, 7.25), (3, 7.25), (4, 1.0), (5, 0.5)]
    vec = [(3, 0.99), (6, 0.98), (1, 0.42)]
    k_cand, rrf_k = 4, 60

    def ranks(sys_rows):
        ordered = sorted(sys_rows, key=lambda t: (-t[1], t[0]))[:k_cand]
        return {i: r + 1 for r, (i, _) in enumerate(ordered)}

    expect = {}
    for system in (lex, vec):
        for i, rank in ranks(system).items():
            pts, n = expect.get(i, (0, 0))
            expect[i] = (pts + 10**9 // (rrf_k + rank), n + 1)

    fused = SQ.rrf_fuse(
        {
            "lex": spark.createDataFrame([Row(doc_id=i, s=s) for i, s in lex]),
            "vec": spark.createDataFrame([Row(doc_id=i, s=s) for i, s in vec]),
        },
        "doc_id",
        k_candidates=k_cand,
        rrf_k=rrf_k,
    )
    got = {r.doc_id: (r.rrf, r.n_systems) for r in fused.collect()}
    assert got == expect, (got, expect)
    # output ordering: fused points desc, id tie-break; top trims
    ids = [r.doc_id for r in fused.collect()]
    assert ids == sorted(expect, key=lambda i: (-expect[i][0], i))
    top2 = SQ.rrf_fuse(
        {
            "lex": spark.createDataFrame([Row(doc_id=i, s=s) for i, s in lex]),
            "vec": spark.createDataFrame([Row(doc_id=i, s=s) for i, s in vec]),
        },
        "doc_id",
        k_candidates=k_cand,
        rrf_k=rrf_k,
        top=2,
    )
    assert [r.doc_id for r in top2.collect()] == ids[:2]
    with pytest.raises(ValueError):
        SQ.rrf_fuse({}, "doc_id")


def test_facet_counts_semantics(spark):
    """facet_counts: NULLs carry no facet row, heterogeneous types
    coexist as strings, rank breaks count ties by value, top_n trims
    per field independently."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    df = spark.createDataFrame(
        [
            Row(color="red", size=1),
            Row(color="red", size=2),
            Row(color="blue", size=2),
            Row(color="blue", size=1),
            Row(color="green", size=1),
            Row(color=None, size=None),
        ]
    )
    got = {
        (r.field, r.value): (r.cnt, r.rank)
        for r in SQ.facet_counts(df, ["color", "size"], top_n=2).collect()
    }
    assert got == {
        ("color", "blue"): (2, 1),   # 2-2 tie with red: value asc
        ("color", "red"): (2, 2),    # green (cnt 1) trimmed by top_n=2
        ("size", "1"): (3, 1),
        ("size", "2"): (2, 2),
    }, got
    with pytest.raises(ValueError):
        SQ.facet_counts(df, [])


def test_highlight_semantics(spark):
    """highlight: earliest token wins, (pos, token) tie-break, original
    case preserved in the wrapped span, edge-of-string truncation,
    NULL when no match."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="The Spark engine indexes data fast"),
            Row(doc_id=2, text="data at position zero"),
            Row(doc_id=3, text="nothing relevant here"),
            Row(doc_id=4, text="engine? DATA!"),  # engine earlier than data
        ]
    )
    got = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            SQ.highlight("text", "data engine", context_chars=6).alias("s"),
        ).collect()
    }
    # doc 1: 'engine' at 11 beats 'data' at 26; head = chars 5..10
    assert got[1] == "Spark <em>engine</em> index", got[1]
    # doc 2: match at string start -> head truncates to nothing
    assert got[2] == "<em>data</em> at po", got[2]
    assert got[3] is None
    # doc 4: engine at 1; original case kept for the matched span
    assert got[4] == "<em>engine</em>? DATA", got[4]  # 6-char tail


def test_length_batches_brute_force(spark):
    """length_batches vs a pure-Python replay: exact power-of-two
    bucket boundaries (a 64-char doc is bucket 64, 65 chars is 128),
    overflow bucket -1, per-(bucket, shard) contiguous batch numbers
    of at most batch_size members."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.functions.sampling import (
        length_batches,
    )

    lens = [15, 16, 17, 64, 65, 100, 100, 1 << 17, 40, 33]
    df = spark.createDataFrame(
        [Row(doc_id=i, n=ln) for i, ln in enumerate(lens)]
    )
    out = {
        r.doc_id: (r.bucket, r.shard, r.batch_no)
        for r in length_batches(df, "doc_id", "n", batch_size=2, shards=2).collect()
    }

    def bucket(n):
        for p in range(4, 17):
            if n <= 1 << p:
                return 1 << p
        return -1

    groups = {}
    for i, ln in enumerate(lens):
        groups.setdefault((bucket(ln), i % 2), []).append((ln, i))
    expect = {}
    for (b, s), members in groups.items():
        for rank, (_, i) in enumerate(sorted(members)):
            expect[i] = (b, s, rank // 2)
    assert out == expect, (out, expect)
    assert out[0][0] == 16 and out[1][0] == 16 and out[2][0] == 32
    assert out[3][0] == 64 and out[4][0] == 128
    assert out[7][0] == -1

    import pytest as _pt
    with _pt.raises(ValueError):
        length_batches(df, "doc_id", "n", batch_size=0)

    # NULL / non-positive lengths fail loudly instead of silently
    # riding nulls-first three-valued comparisons into engine-dependent
    # batch numbers (r12 advice regression pin)
    bad = spark.createDataFrame(
        [(1, None), (2, 8)], "doc_id long, n long"
    )
    with _pt.raises(Exception, match="positive non-null"):
        length_batches(bad, "doc_id", "n", batch_size=2).collect()
    nonpos = spark.createDataFrame([(1, 0)], "doc_id long, n long")
    with _pt.raises(Exception, match="positive non-null"):
        length_batches(nonpos, "doc_id", "n", batch_size=2).collect()


def test_multi_match_modes(spark):
    """NEW r13: MultiMatchQuery. most_fields sums boosted coords,
    best_fields takes the max; coords are distinct-token counts per
    field; invalid boosts/modes are loud errors."""
    import pytest as _pytest

    from platypus_ingestion_plugins_spark.serving.query import multi_match

    df = spark.createDataFrame(
        [
            (1, "spark shuffle join", "spark docs"),
            (2, "python driver", "spark internals"),
            (3, "join join spark spark", "other"),
        ],
        "id long, body string, title string",
    )
    q = "spark join"
    most = {
        r["id"]: r["s"]
        for r in df.select(
            "id",
            multi_match(q, {"body": 1.0, "title": 2.0}).alias("s"),
        ).collect()
    }
    # coords: body(1)=2, title(1)=1 -> 1*2+2*1=4 ; body(2)=0, title(2)=1 -> 2
    # body(3)=2 (distinct!), title(3)=0 -> 2
    assert most == {1: 4.0, 2: 2.0, 3: 2.0}
    best = {
        r["id"]: r["s"]
        for r in df.select(
            "id",
            multi_match(
                q, {"body": 1.0, "title": 2.0}, mode="best_fields"
            ).alias("s"),
        ).collect()
    }
    assert best == {1: 2.0, 2: 2.0, 3: 2.0}
    with _pytest.raises(ValueError, match="boost"):
        multi_match(q, {"body": 0.0})
    with _pytest.raises(ValueError, match="mode"):
        multi_match(q, {"body": 1.0}, mode="cross_fields")
    with _pytest.raises(ValueError, match="at least one"):
        multi_match(q, {})


def test_date_histogram_facet(spark):
    """NEW r13: date_histogram. min_doc_count=0 must materialize
    EVERY calendar bucket between min and max with 0-filled gaps (ES
    semantics); min_doc_count=1 only populated buckets; NULL ts rows
    carry nothing; bad interval is a loud error."""
    import datetime as dt

    import pytest as _pytest

    from platypus_ingestion_plugins_spark.serving.query import (
        date_histogram_facet,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 15)
    rows = [
        (1, t0),
        (2, t0.replace(minute=50)),
        (3, t0 + dt.timedelta(hours=3)),  # hours 11 and 12 are gaps
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    dense = {
        r["bucket"].hour: r["cnt"]
        for r in date_histogram_facet(df, "ts", "hour", 0).collect()
    }
    assert dense == {10: 2, 11: 0, 12: 0, 13: 1}
    sparse = {
        r["bucket"].hour: r["cnt"]
        for r in date_histogram_facet(df, "ts", "hour").collect()
    }
    assert sparse == {10: 2, 13: 1}
    # day interval truncates to midnight; single bucket, no gaps
    day = date_histogram_facet(df, "ts", "day", 0).collect()
    assert len(day) == 1 and day[0]["cnt"] == 3
    assert day[0]["bucket"] == dt.datetime(2024, 3, 1)
    # empty input stays empty even when densifying
    assert date_histogram_facet(
        df.where("id > 100"), "ts", "hour", 0
    ).count() == 0
    with _pytest.raises(ValueError, match="interval"):
        date_histogram_facet(df, "ts", "minute")
    # calendar-interval densification: two events five weeks apart
    # materialize all six Monday-aligned weekly buckets
    wk = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 6)), (2, dt.datetime(2024, 4, 9))],
        "id long, ts timestamp_ntz",
    )
    weeks = sorted(
        (r["bucket"], r["cnt"])
        for r in date_histogram_facet(wk, "ts", "week", 0).collect()
    )
    assert len(weeks) == 6
    assert weeks[0] == (dt.datetime(2024, 3, 4), 1)   # Monday-truncated
    assert weeks[-1] == (dt.datetime(2024, 4, 8), 1)
    assert all(c == 0 for _, c in weeks[1:-1])


def test_more_like_this_matches_python_replay(spark):
    """NEW r13: MoreLikeThis. Term selection (tf·idf, min_term_freq /
    min_doc_freq gates, (weight desc, term) cut) and weight-boosted
    coordination ranking must match a pure-Python replay; missing
    seed is empty, the term cap binds, the seed never ranks itself."""
    import math

    from platypus_ingestion_plugins_spark.serving.query import (
        more_like_this,
    )

    rows = [
        (1, "spark spark spark shuffle join"),
        (2, "spark shuffle partition"),
        (3, "join join merge"),
        (4, "python driver"),
        (5, "spark join shuffle merge"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def replay(seed, mqt, mtf, mdf, top):
        toks = {i: t.split() for i, t in rows}
        tf = {i: {} for i, _ in rows}
        for i, ts in toks.items():
            for t in ts:
                tf[i][t] = tf[i].get(t, 0) + 1
        dfc = {}
        for i in tf:
            for t in tf[i]:
                dfc[t] = dfc.get(t, 0) + 1
        n = len(rows)
        sel = sorted(
            (
                (t, c * math.log((n + 1) / (dfc[t] + 1)))
                for t, c in tf.get(seed, {}).items()
                if c >= mtf and dfc[t] >= mdf
            ),
            key=lambda x: (-x[1], x[0]),
        )[:mqt]
        w = dict(sel)
        scored = [
            (i, round(sum(wt for t, wt in w.items() if t in tf[i]), 6))
            for i in tf
            if i != seed and any(t in tf[i] for t in w)
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:top]

    for seed, mqt, mtf, mdf, top in [
        (1, 25, 1, 1, 10),
        (1, 2, 1, 1, 10),   # cap binds: only the 2 best terms form the query
        (1, 25, 2, 1, 10),  # min_term_freq drops single-occurrence seed terms
        (1, 25, 1, 3, 10),  # min_doc_freq drops rare terms
        (3, 25, 1, 1, 2),   # top cut
    ]:
        got = [
            (r["doc_id"], r["mlt_score"])
            for r in more_like_this(
                df, "text", "doc_id", seed,
                max_query_terms=mqt, min_term_freq=mtf,
                min_doc_freq=mdf, top=top,
            ).collect()
        ]
        assert got == replay(seed, mqt, mtf, mdf, top), (seed, mqt, mtf, mdf)
    assert more_like_this(df, "text", "doc_id", 999).count() == 0


def test_bm25_prf_expands_recall(spark):
    """PRF: a doc matching only a feedback-harvested term (not the
    original query) scores after expansion; term selection excludes
    original terms and short tokens deterministically."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    docs = spark.createDataFrame(
        [
            # top doc for 'engine': 'of' (len 2) is below min_term_len
            # and must NOT be harvested even though it is the most
            # frequent feedback token
            Row(doc_id=1, text="engine engine of of of vectorized runtime"),
            Row(doc_id=2, text="a vectorized pipeline only"),  # no orig term
            Row(doc_id=3, text="of of of nothing shared"),  # only 'of' shared
        ]
    )
    base = {r.doc_id for r in SQ.bm25_scores(docs, "text", "engine", "doc_id").collect()}
    assert base == {1}
    prf = {
        r.doc_id
        for r in SQ.bm25_prf(
            docs, "text", "engine", "doc_id", fb_docs=1, fb_terms=3
        ).collect()
    }
    # doc 2 now reachable through the expansion term 'vectorized';
    # doc 3 must stay unreachable — its only shared token 'of' is
    # below the length floor, so the exclusion is genuinely exercised
    assert prf == {1, 2}, prf


def test_histogram_facet_bins(spark):
    """histogram_facet: floor binning (negatives toward -inf), NULLs
    excluded, sparse bins only, bin_lo edges exact."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    df = spark.createDataFrame(
        [Row(v=0.0), Row(v=24.9), Row(v=25.0), Row(v=-0.1), Row(v=None),
         Row(v=1000.0)]
    )
    got = {r.bin: (r.cnt, r.bin_lo) for r in SQ.histogram_facet(df, "v", 25.0).collect()}
    assert got == {0: (2, 0.0), 1: (1, 25.0), -1: (1, -25.0), 40: (1, 1000.0)}, got
    import pytest as _pt
    with _pt.raises(ValueError):
        SQ.histogram_facet(df, "v", 0)


def test_range_query_bounds_and_validation(spark):
    """range_query: inclusive/exclusive bounds AND together; NULL
    field never matches; bound validation fails loudly."""
    df = spark.createDataFrame(
        [Row(id=1, v=5.0), Row(id=2, v=10.0), Row(id=3, v=20.0),
         Row(id=4, v=None)]
    )
    got = sorted(
        r.id for r in df.filter(Q.range_query("v", gte=5.0, lt=20.0)).collect()
    )
    assert got == [1, 2], got
    got = sorted(r.id for r in df.filter(Q.range_query("v", gt=5.0)).collect())
    assert got == [2, 3], got
    with pytest.raises(ValueError):
        Q.range_query("v")
    with pytest.raises(ValueError):
        Q.range_query("v", gte=1, gt=2)
    with pytest.raises(ValueError):
        Q.range_query("v", lte=1, lt=2)


def test_bool_query_lucene_semantics(spark):
    """bool_query: must ANDs, should counts against
    minimum_should_match (default 1 without must, 0 with), and
    must_not KEEPS docs whose field is NULL — Lucene's 'missing field
    matches no query' semantics, which a bare three-valued NOT would
    silently violate."""
    df = spark.createDataFrame(
        [
            Row(id=1, kind="click", v=5.0),
            Row(id=2, kind="view", v=60.0),
            Row(id=3, kind="error", v=7.0),
            Row(id=4, kind=None, v=8.0),
            Row(id=5, kind="click", v=None),
        ]
    )
    # must_not on kind: the NULL-kind doc 4 must SURVIVE
    got = sorted(
        r.id for r in df.filter(Q.bool_query(must_not=[Q.term("kind", "error")])).collect()
    )
    assert got == [1, 2, 4, 5], got
    # default minimum_should_match = 1 when no must clauses
    got = sorted(
        r.id
        for r in df.filter(
            Q.bool_query(should=[Q.term("kind", "view"), Q.range_query("v", gt=50.0)])
        ).collect()
    )
    assert got == [2], got
    # with must present, shoulds default to optional (msm=0)
    got = sorted(
        r.id
        for r in df.filter(
            Q.bool_query(
                must=[Q.range_query("v", gte=5.0)],
                should=[Q.term("kind", "never-matches")],
            )
        ).collect()
    )
    assert got == [1, 2, 3, 4], got
    # msm=2 of 3; NULL should-clauses count as non-matches
    got = sorted(
        r.id
        for r in df.filter(
            Q.bool_query(
                should=[
                    Q.term("kind", "click"),
                    Q.range_query("v", lt=10.0),
                    Q.range_query("v", gt=1.0),
                ],
                minimum_should_match=2,
            )
        ).collect()
    )
    assert got == [1, 3, 4], got
    # nested trees compose
    nested = Q.bool_query(
        must=[Q.bool_query(should=[Q.term("kind", "click"), Q.term("kind", "view")])],
        must_not=[Q.bool_query(must=[Q.range_query("v", gt=50.0)])],
    )
    got = sorted(r.id for r in df.filter(nested).collect())
    assert got == [1, 5], got
    with pytest.raises(ValueError):
        Q.bool_query(should=[Q.term("kind", "x")], minimum_should_match=2)


def test_term_index_build_search_and_prune(spark, tmp_path):
    """Inverted term index (serving/text_index): indexed ANY/ALL term
    search equals the scan-path match_text/match-all-terms answers;
    the posting read opens ONLY the query terms' hash-bucket
    directories (asserted on input_file_name — the band-key-index
    file-skip pattern); append mode accumulates; a mismatched bucket
    count raises instead of silently pruning matches away."""
    from pyspark.sql import functions as F

    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "the Catalyst optimizer prunes partitions"),
            (3, "spark prunes parquet partitions early"),
            (4, "lucene builds inverted indexes"),
            (5, "no relevant tokens here"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "tidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=16)

    # ANY == scan-path match_text ids, n_matched == match_score
    got = {
        r.doc_id: r.n_matched
        for r in TI.search_terms_indexed(
            spark, idx, ["spark", "PRUNES"], id_col="doc_id"
        ).collect()
    }
    scan = {
        r.doc_id: r.n
        for r in docs.filter(SQ.match_text("text", "spark prunes"))
        .select("doc_id", SQ.match_score("text", "spark prunes").alias("n"))
        .collect()
    }
    assert got == scan == {1: 1, 2: 1, 3: 2}, (got, scan)

    # ALL (AND) semantics
    allm = sorted(
        r.doc_id
        for r in TI.search_terms_indexed(
            spark, idx, ["spark", "prunes"], require_all=True
        ).collect()
    )
    assert allm == [3], allm

    # file-skip: the pruned read opens only the query terms' buckets
    # (input_file_name read on the pre-distinct scan — the distinct's
    # exchange erases it)
    log, snap = TI._pin(spark, idx)
    pruned = TI._pruned_scan(log, snap, ["spark", "prunes"])
    opened = {
        r.f
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    norm, tbs = TI._query_buckets(log, snap, ["spark", "prunes"], None)
    assert opened, "pruned read returned no files"
    for f in opened:
        assert any(f"tb={b}/" in f for b in tbs), (f, tbs)
    all_dirs = {
        r.f.split("/tb=")[1].split("/")[0]
        for r in log.read(snap)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert len(all_dirs) > len(tbs), (all_dirs, tbs)  # skip was real

    # incremental append: new doc becomes visible
    TI.build_term_index(
        spark.createDataFrame([(6, "spark again")], "doc_id long, text string"),
        "text",
        "doc_id",
        idx,
        buckets=16,
        mode="append",
    )
    got2 = sorted(
        r.doc_id
        for r in TI.search_terms_indexed(spark, idx, ["spark"]).collect()
    )
    assert got2 == [1, 3, 6], got2

    # bucket-scheme mismatch fails loudly (write and read)
    import pytest as _pt

    with _pt.raises(ValueError):
        TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, mode="append")
    with _pt.raises(ValueError):
        TI.read_postings_pruned(spark, idx, ["spark"], buckets=8)

    # empty / no-op term sets
    assert TI.search_terms_indexed(spark, idx, []).count() == 0

    # a multi-word or punctuation-bearing "term" would silently match
    # nothing — fail loudly instead (r13 review)
    with _pt.raises(ValueError, match="analyzed token"):
        TI.search_terms_indexed(spark, idx, ["spark prunes"])
    with _pt.raises(ValueError, match="analyzed token"):
        TI.read_postings_pruned(spark, idx, ["spark!"])


def test_term_index_rebuild_changes_scheme(spark, tmp_path, fs_spy):
    """``mode="overwrite"`` is a rebuild under the requested scheme: a
    flat 4-bucket index rebuilt with 8 buckets and positions answers
    term, BM25, phrase and suggest queries exactly like a fresh build
    at the new scheme. An append keeps the scheme and raises on
    another; no build writes a scheme file beside the snapshot."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "lucene builds indexes"), (3, "spark builds data")],
        "doc_id long, text string",
    )
    more = spark.createDataFrame([(4, "spark again")], "doc_id long, text string")
    idx, fresh = str(tmp_path / "tidx"), str(tmp_path / "fresh")

    def answers(path):
        return (
            sorted(r.doc_id for r in TI.search_terms_indexed(spark, path, ["spark"]).collect()),
            sorted((r.doc_id, r.bm25) for r in TI.bm25_indexed(spark, path, "spark data").collect()),
            sorted(r.doc_id for r in TI.search_phrase_indexed(spark, path, "builds data").collect()),
            {(r.term, r.doc_freq) for r in TI.suggest_terms(spark, path, "sparc").collect()},
            [tuple(r) for r in TI.term_index_stats(spark, path).collect()],
        )

    calls = fs_spy()
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=4)
    TI.build_term_index(more, "text", "doc_id", idx, buckets=4, mode="append")
    got = sorted(r.doc_id for r in TI.search_terms_indexed(spark, idx, ["spark"]).collect())
    assert got == [1, 3, 4], got
    with pytest.raises(ValueError):
        TI.build_term_index(more, "text", "doc_id", idx, buckets=8, mode="append")

    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, positions=True, mode="overwrite")
    TI.build_term_index(docs, "text", "doc_id", fresh, buckets=8, positions=True)
    want = answers(fresh)
    assert want[0] == [1, 3] and want[2] == [3] and want[4][0][:2] == (8, True), want
    assert answers(idx) == want
    written = {args[0] for name, args in calls if name.startswith("write_text")}
    assert all("/_snapshots/" in p for p in written), written

    TI.build_term_index(more, "text", "doc_id", idx, buckets=8, positions=True, mode="append")
    got = sorted(r.doc_id for r in TI.search_terms_indexed(spark, idx, ["spark"]).collect())
    assert got == [1, 3, 4], got
    TI.build_term_index(more, "text", "doc_id", idx, buckets=8, positions=True, mode="overwrite")
    got = sorted(r.doc_id for r in TI.search_terms_indexed(spark, idx, ["spark"]).collect())
    assert got == [4], got


def test_wildcard_scan_and_indexed_agree(spark, tmp_path):
    """NEW r13: WildcardQuery. The indexed rewrite (term-dictionary
    expansion -> pruned OR search) must return exactly the scan path's
    match_wildcard ids; '*'/'?' semantics, literal-escape of regex
    metachars, the TooManyClauses cap, empty expansion, and tombstone
    visibility all pinned."""
    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "table scan beats table misuse"),
            (2, "stable tables everywhere"),
            (3, "scan the cable"),
            (4, "tablet mode table"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "widx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8)

    for pattern, want_terms in [
        ("tab*", ["table", "tables", "tablet"]),
        ("?able", ["cable", "table"]),
        ("*able*", ["cable", "stable", "table", "tables", "tablet"]),
        ("scan", ["scan"]),
        ("ta.le", []),  # '.' is LITERAL, not any-char
        ("TAB*", ["table", "tables", "tablet"]),  # pattern lowercased
    ]:
        assert TI.expand_wildcard(spark, idx, pattern) == want_terms, pattern
        got = {
            r["doc_id"]
            for r in TI.search_wildcard_indexed(spark, idx, pattern).collect()
        }
        scan = {
            r["doc_id"]
            for r in docs.filter(SQ.match_wildcard("text", pattern)).collect()
        }
        assert got == scan, pattern
    # n_matched is the per-doc distinct matched-term count
    got = {
        r["doc_id"]: r["n_matched"]
        for r in TI.search_wildcard_indexed(spark, idx, "tab*").collect()
    }
    assert got == {1: 1, 2: 1, 4: 2}
    # empty expansion -> empty frame, schema intact
    empty = TI.search_wildcard_indexed(spark, idx, "zz*")
    assert empty.columns == ["doc_id", "n_matched"] and empty.count() == 0
    # Lucene's TooManyClauses: cap is a loud error, not truncation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="TooManyClauses"):
        TI.expand_wildcard(spark, idx, "*", max_expansions=3)
    # tombstones: deleted docs leave results AND the dictionary count
    TI.delete_docs(spark, idx, docs.filter("doc_id = 2").select("doc_id"))
    got = {
        r["doc_id"]
        for r in TI.search_wildcard_indexed(spark, idx, "tab*").collect()
    }
    assert got == {1, 4}


def test_regexp_scan_and_indexed_agree(spark, tmp_path):
    """NEW r15 (VERDICT r14 task #8): RegexpQuery next to the
    wildcard — anchored whole-term match against the term dictionary,
    same TooManyClauses cap, scan/indexed agreement, loud invalid
    patterns, tombstone visibility."""
    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "table scan beats table misuse"),
            (2, "stable tables everywhere"),
            (3, "scan the cable"),
            (4, "tablet mode table"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "ridx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8)

    for regex, want_terms in [
        ("tab.*", ["table", "tables", "tablet"]),
        ("[ct]able", ["cable", "table"]),
        (".*able.*", ["cable", "stable", "table", "tables", "tablet"]),
        ("scan|cable", ["cable", "scan"]),
        ("tables?", ["table", "tables"]),
        ("able", []),            # ANCHORED: no substring match
        ("zz+", []),
    ]:
        assert TI.expand_regexp(spark, idx, regex) == want_terms, regex
        got = {
            r["doc_id"]
            for r in TI.search_regexp_indexed(spark, idx, regex).collect()
        }
        scan = {
            r["doc_id"]
            for r in docs.filter(SQ.match_regexp("text", regex)).collect()
        }
        assert got == scan, regex
    # n_matched = distinct matched terms per doc
    got = {
        r["doc_id"]: r["n_matched"]
        for r in TI.search_regexp_indexed(spark, idx, "tab.*").collect()
    }
    assert got == {1: 1, 2: 1, 4: 2}
    empty = TI.search_regexp_indexed(spark, idx, "zz+")
    assert empty.columns == ["doc_id", "n_matched"] and empty.count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="TooManyClauses"):
        TI.expand_regexp(spark, idx, ".*", max_expansions=3)
    with _pytest.raises(ValueError, match="invalid regexp"):
        SQ.match_regexp("text", "[unclosed")
    with _pytest.raises(ValueError, match="invalid regexp"):
        TI.expand_regexp(spark, idx, "(broken")
    # tombstones stay invisible to the regexp path too
    TI.delete_docs(spark, idx, docs.filter("doc_id = 2").select("doc_id"))
    got = {
        r["doc_id"]
        for r in TI.search_regexp_indexed(spark, idx, "tab.*").collect()
    }
    assert got == {1, 4}


def test_term_index_stats(spark, tmp_path):
    """NEW r13: CheckIndex parity. Stats must match hand counts on a
    flat index, track tombstones (live counts shrink, n_deleted
    grows), collapse replayed appends (reader DISTINCT semantics),
    and count per-occurrence postings + zero-token docs on a
    positional index."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "sidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=4)
    s = TI.term_index_stats(spark, idx).collect()[0]
    # flat: postings {1:(a,b), 2:(b,c)}; doc 3 has no tokens
    assert (s["buckets"], s["positional"]) == (4, False)
    assert (s["n_terms"], s["n_postings"], s["n_docs"], s["n_deleted"]) == (3, 4, 2, 0)
    # replayed append: reader-visible counts unchanged
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=4, mode="append")
    s = TI.term_index_stats(spark, idx).collect()[0]
    assert (s["n_terms"], s["n_postings"], s["n_docs"]) == (3, 4, 2)
    # tombstone: doc 1 leaves, 'a' disappears from the dictionary
    TI.delete_docs(spark, idx, docs.filter("doc_id = 1").select("doc_id"))
    s = TI.term_index_stats(spark, idx).collect()[0]
    assert (s["n_terms"], s["n_postings"], s["n_docs"], s["n_deleted"]) == (2, 2, 1, 1)
    # positional: per-occurrence postings, _doclens counts doc 3 too
    pidx = str(tmp_path / "psidx")
    TI.build_term_index(docs, "text", "doc_id", pidx, buckets=4, positions=True)
    s = TI.term_index_stats(spark, pidx).collect()[0]
    assert (s["positional"], s["n_terms"], s["n_postings"], s["n_docs"]) == (
        True, 3, 5, 3,
    )


def test_search_bool_indexed_matches_scan(spark, tmp_path):
    """NEW r13: indexed BooleanQuery. One pruned read + one agg must
    equal the scan path's bool_query over match_text clauses for
    every must/should/must_not/msm combination; NULL-field docs
    survive must_not (no postings = no match); pure-negative queries
    raise."""
    import pytest as _pytest

    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    rows = [
        (1, "spark shuffle join merge"),
        (2, "spark shuffle"),
        (3, "join merge sort"),
        (4, None),                      # NULL field: survives must_not
        (5, "spark join dup"),
        (6, "sort dup"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "bidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8)

    def scan(must=(), should=(), must_not=(), msm=None):
        pred = SQ.bool_query(
            must=[SQ.match_text("text", t) for t in must],
            should=[SQ.match_text("text", t) for t in should],
            must_not=[SQ.match_text("text", t) for t in must_not],
            minimum_should_match=msm,
        )
        return {r["doc_id"] for r in docs.filter(pred).collect()}

    def indexed(must=(), should=(), must_not=(), msm=None):
        return {
            r["doc_id"]: r["should_matched"]
            for r in TI.search_bool_indexed(
                spark, idx, must=must, should=should, must_not=must_not,
                minimum_should_match=msm,
            ).collect()
        }

    cases = [
        dict(must=["spark"], should=["join", "merge"], must_not=["dup"]),
        dict(must=["spark", "shuffle"]),
        dict(should=["join", "sort"], msm=2),
        dict(should=["join", "sort"]),          # default msm = 1
        dict(must=["spark"], must_not=["shuffle"]),
        dict(must=["spark"], should=["join", "merge"], msm=2),
    ]
    for c in cases:
        got = indexed(**c)
        want_ids = scan(**c)
        # the indexed answer can only list docs carrying >= 1 queried
        # term; every scan-path match here carries a positive term, so
        # the id sets must be equal
        assert set(got) == want_ids, c
        # should_matched is the distinct should-coordination count
        for i, t in [(r[0], r[1]) for r in rows if r[0] in got and r[1]]:
            want = len({s for s in c.get("should", ()) if s in t.split()})
            assert got[i] == want, (c, i)
    with _pytest.raises(ValueError, match="positive clause"):
        TI.search_bool_indexed(spark, idx, must_not=["dup"])
    with _pytest.raises(ValueError, match="minimum_should_match"):
        TI.search_bool_indexed(spark, idx, should=["join"], minimum_should_match=5)
    # tombstones drop out
    TI.delete_docs(spark, idx, docs.filter("doc_id = 1").select("doc_id"))
    assert 1 not in indexed(must=["spark"])


def test_more_like_this_indexed_matches_replay(spark, tmp_path):
    """NEW r13: indexed MLT (like_text mode). Selection + ranking
    must match a pure-Python replay over the corpus; tombstones shift
    df, N and candidates; a flat index (no _doclens) and an empty
    probe are loud errors."""
    import math

    import pytest as _pytest

    from platypus_ingestion_plugins_spark.serving import text_index as TI

    rows = [
        (1, "spark spark shuffle join"),
        (2, "spark shuffle partition"),
        (3, "join join merge"),
        (4, "python driver"),
        (5, "spark join shuffle merge"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "midx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, positions=True)

    def replay(like, mqt, top, deleted=()):
        live = {i: set(t.split()) for i, t in rows if i not in deleted}
        qtf = {}
        for t in like.split():
            qtf[t] = qtf.get(t, 0) + 1
        n = len(live)
        dfc = {}
        for ts in live.values():
            for t in ts:
                dfc[t] = dfc.get(t, 0) + 1
        sel = sorted(
            (
                (t, c * math.log((n + 1) / (dfc[t] + 1)))
                for t, c in qtf.items()
                if t in dfc
            ),
            key=lambda x: (-x[1], x[0]),
        )[:mqt]
        w = dict(sel)
        scored = [
            (i, round(sum(wt for t, wt in w.items() if t in ts), 6))
            for i, ts in live.items()
            if any(t in ts for t in w)
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:top]

    like = "spark spark join query"
    got = [
        (r["doc_id"], r["mlt_score"])
        for r in TI.more_like_this_indexed(spark, idx, like).collect()
    ]
    assert got == replay(like, 25, 10)
    # cap binds
    got = [
        (r["doc_id"], r["mlt_score"])
        for r in TI.more_like_this_indexed(
            spark, idx, like, max_query_terms=1
        ).collect()
    ]
    assert got == replay(like, 1, 10)
    # tombstones shift df/N/candidates
    TI.delete_docs(spark, idx, docs.filter("doc_id = 1").select("doc_id"))
    got = [
        (r["doc_id"], r["mlt_score"])
        for r in TI.more_like_this_indexed(spark, idx, like).collect()
    ]
    assert got == replay(like, 25, 10, deleted={1})
    with _pytest.raises(ValueError, match="analyzed terms"):
        TI.more_like_this_indexed(spark, idx, "...")
    flat = str(tmp_path / "flatidx")
    TI.build_term_index(docs, "text", "doc_id", flat, buckets=8)
    with _pytest.raises(ValueError, match="_doclens"):
        TI.more_like_this_indexed(spark, flat, like)


def test_suggest_terms_matches_pure_python(spark, tmp_path):
    """suggest_terms vs a pure-Python levenshtein replay: distance
    cut, (dist, doc_freq desc, term) ranking, dictionary-distinct
    doc_freq, and the deterministic top cut."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "table scan beats table misuse"),
            (2, "stable tables everywhere"),
            (3, "scan the cable"),
            (4, "tablet mode"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "fidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8)

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    toks = {
        1: {"table", "scan", "beats", "misuse"},
        2: {"stable", "tables", "everywhere"},
        3: {"scan", "the", "cable"},
        4: {"tablet", "mode"},
    }
    freq = {}
    for ts in toks.values():
        for t in ts:
            freq[t] = freq.get(t, 0) + 1
    expect = sorted(
        (
            (t, f, lev(t, "tabl"))
            for t, f in freq.items()
            if lev(t, "tabl") <= 2
        ),
        key=lambda r: (r[2], -r[1], r[0]),
    )[:3]
    got = [
        (r.term, r.doc_freq, r.dist)
        for r in TI.suggest_terms(spark, idx, "TABL", max_dist=2, top=3).collect()
    ]
    assert got == expect, (got, expect)
    import pytest as _pt
    with _pt.raises(ValueError):
        TI.suggest_terms(spark, idx, "x", max_dist=-1)


def test_term_index_delete_and_compact(spark, tmp_path):
    """Index lifecycle: tombstone deletes hide docs from every reader
    immediately (search, postings, suggest doc_freq); compaction
    applies them physically (same answers, _deletes gone, distinct
    posting fold) and is replay-safe; double-delete is idempotent."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data"),
            (2, "spark prunes partitions"),
            (3, "spark again and again"),
            (4, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "lidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8)
    # duplicate append (replayed batch) — readers' distinct absorbs it
    TI.build_term_index(
        docs.filter("doc_id = 1"), "text", "doc_id", idx, buckets=8, mode="append"
    )

    dels = spark.createDataFrame([(2,), (2,)], "doc_id long")
    TI.delete_docs(spark, idx, dels)
    TI.delete_docs(spark, idx, dels)  # idempotent re-delivery

    def hits():
        return sorted(
            r.doc_id
            for r in TI.search_terms_indexed(spark, idx, ["spark"]).collect()
        )

    assert hits() == [1, 3]  # tombstones active pre-compaction
    sugg = {
        r.term: r.doc_freq
        for r in TI.suggest_terms(spark, idx, "spark", max_dist=0).collect()
    }
    assert sugg == {"spark": 2}, sugg  # doc_freq excludes the deleted doc

    TI.compact_term_index(spark, idx)
    assert hits() == [1, 3]  # physical apply changed no answer
    assert TI.term_index_stats(spark, idx).first().n_deleted == 0
    # the compacted index is a distinct posting fold: the duplicate
    # doc-1 append collapsed
    log, snap = TI._pin(spark, idx)
    postings = log.read(snap)
    assert postings.count() == postings.distinct().count()
    assert postings.filter("doc_id = 2").count() == 0
    # the scheme survived the compaction; pruned reads still work
    assert sorted(
        r.doc_id
        for r in TI.search_terms_indexed(spark, idx, ["spark"], buckets=8).collect()
    ) == [1, 3]


def test_search_phrase_indexed_matches_scan_path(spark, tmp_path):
    """Positional-postings phrase search vs the scan path's
    match_phrase — two different algorithms, same answers: contiguity,
    order, substring traps, repeated phrase tokens, 3-token chains,
    and the positions=True build contract."""
    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "a Table SCAN follows"),
            (2, "scan table"),            # wrong order
            (3, "table x scan"),          # not contiguous
            (4, "portable scanner"),      # substring trap
            (5, "full table scan today"),
            (6, "scan the scan again"),   # repeated token
            (7, "the table scan the table scan"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "pidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, positions=True)

    for phrase in ["table scan", "TABLE Scan!", "scan the scan", "the table scan", "scan"]:
        indexed = sorted(
            r.doc_id
            for r in TI.search_phrase_indexed(spark, idx, phrase).collect()
        )
        scanned = sorted(
            r.doc_id
            for r in docs.filter(SQ.match_phrase("text", phrase)).collect()
        )
        assert indexed == scanned, (phrase, indexed, scanned)
    assert sorted(
        r.doc_id
        for r in TI.search_phrase_indexed(spark, idx, "table scan").collect()
    ) == [1, 5, 7]

    # positionless index refuses phrase queries
    flat = str(tmp_path / "flat")
    TI.build_term_index(docs, "text", "doc_id", flat, buckets=8)
    import pytest as _pt

    with _pt.raises(ValueError, match="positions"):
        TI.search_phrase_indexed(spark, flat, "table scan")
    with _pt.raises(ValueError):
        TI.search_phrase_indexed(spark, idx, "  !! ")
    # mixing positional appends into a flat index raises (sidecar pin)
    with _pt.raises(ValueError):
        TI.build_term_index(
            docs, "text", "doc_id", flat, buckets=8, positions=True, mode="append"
        )
    # term search still works over a positional index
    got = sorted(
        r.doc_id for r in TI.search_terms_indexed(spark, idx, ["table"]).collect()
    )
    assert got == [1, 2, 3, 5, 7], got


def test_term_index_delete_validation_and_crash_heal(
    spark, tmp_path, crash_at_publish, crash_on_old_delete
):
    """r13 self-review pins: delete_docs rejects multi-column frames
    and a wrongly-named id frame before it commits (not a cryptic join
    error at read). Compactions that die before their snapshot
    publishes, or while deleting files no snapshot references, leave
    every reader answering as before (tombstones still active), and
    the re-run converges to one file per bucket. A ``{path}.old`` left
    by the older rename-based compactor is refused, files kept."""
    import os
    import shutil

    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "beta alpha delta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "vidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=4, positions=True)

    with pytest.raises(ValueError, match="one-column"):
        TI.delete_docs(
            spark, idx, spark.createDataFrame([(1, 2)], "a long, b long")
        )
    with pytest.raises(ValueError, match="wrongly-named"):
        TI.delete_docs(spark, idx, spark.createDataFrame([(9,)], "wrong_name long"))

    # fragment the buckets (a replayed batch), then tombstone doc 2
    TI.build_term_index(
        docs.filter("doc_id = 3"), "text", "doc_id", idx, buckets=4,
        positions=True, mode="append",
    )
    TI.delete_docs(spark, idx, spark.createDataFrame([(2,)], "doc_id long"))

    def answers():
        return (
            sorted(r.doc_id for r in TI.search_terms_indexed(spark, idx, ["beta"]).collect()),
            sorted((r.doc_id, r.bm25) for r in TI.bm25_indexed(spark, idx, "alpha beta").collect()),
            sorted(r.doc_id for r in TI.search_phrase_indexed(spark, idx, "beta alpha").collect()),
            {(r.term, r.doc_freq) for r in TI.suggest_terms(spark, idx, "beta", max_dist=1).collect()},
        )

    def live_files():
        return TI._pin(spark, idx)[1]["files"]

    def bucket_files():
        return {d: f for d, f in live_files().items() if d.startswith("tb=")}

    want = answers()
    assert want[0] == [1, 3] and want[2] == [3]
    before = live_files()
    with crash_at_publish():
        TI.compact_term_index(spark, idx)
    assert live_files() == before
    assert answers() == want
    # the re-runs find the crashed run's files on disk and die deleting
    # them, then one delete later: the old snapshot stays in force
    with crash_on_old_delete(idx):
        TI.compact_term_index(spark, idx)
    assert answers() == want
    with crash_on_old_delete(idx, skip=1):
        TI.compact_term_index(spark, idx)
    assert answers() == want
    assert live_files() == before and before.get("_deletes")
    TI.compact_term_index(spark, idx)
    assert TI.term_index_stats(spark, idx).first().n_deleted == 0
    assert all(len(f) == 1 for f in bucket_files().values())
    assert answers() == want
    # no tombstones left: suggest now reads the persisted _termdict,
    # which a crashed rewrite leaves in force
    assert live_files().get("_termdict") and not live_files().get("_deletes")
    with crash_on_old_delete(idx):
        TI.compact_term_index(spark, idx)
    assert answers() == want
    TI.compact_term_index(spark, idx)
    assert all(len(f) == 1 for f in bucket_files().values())
    assert answers() == want

    # the older compactor parked the index at {path}.old and died
    # before its staged copy took the path
    shutil.move(idx, f"{idx}.old")
    with pytest.raises(IOError, match=r"vidx\.old"):
        TI.compact_term_index(spark, idx)
    assert os.path.exists(f"{idx}.old/_snapshots")
    shutil.move(f"{idx}.old", idx)
    assert answers() == want


def test_phrase_slop_and_span_near(spark, tmp_path):
    """r14: PhraseQuery(slop=k) / SpanNearQuery from positional
    postings vs a brute-force Python oracle over the tokenized text —
    ordered window semantics (greedy chain), unordered windows,
    slop=0 ≡ exact phrase, repeated-term distinct positions, and the
    argument checks."""
    import re as _re

    from platypus_ingestion_plugins_spark.serving import text_index as TI

    rows = [
        (1, "a table scan follows"),            # adjacent
        (2, "table full scan"),                 # gap 1
        (3, "table of the full scan"),          # gap 3
        (4, "scan table"),                      # wrong order
        (5, "scan a near table"),               # unordered window 3
        (6, "table and also a scan of scans"),  # gap 4
        (7, "scan scan table table scan"),      # repeats both ways
        (8, "no relevant words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "sidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, positions=True)

    def toks(text):
        return [t for t in _re.split(r"\W+", text.lower()) if t]

    def ordered_match(ts, phrase, window):
        pos = {t: [i for i, x in enumerate(ts) if x == t] for t in set(phrase)}
        for p in pos.get(phrase[0], []):
            prev, ok = p, True
            for t in phrase[1:]:
                nxt = [q for q in pos.get(t, []) if q > prev]
                if not nxt:
                    ok = False
                    break
                prev = nxt[0]
            if ok and prev <= p + window:
                return True
        return False

    def unordered_match(ts, terms, window):
        pos = {t: [i for i, x in enumerate(ts) if x == t] for t in set(terms)}
        starts = sorted(q for ps in pos.values() for q in ps)
        return any(
            all(any(p <= q <= p + window for q in pos.get(t, [])) for t in terms)
            for p in starts
        )

    phrase = ["table", "scan"]
    for slop in (0, 1, 2, 3):
        want = sorted(
            d for d, t in rows if ordered_match(toks(t), phrase, 1 + slop)
        )
        got = sorted(
            r.doc_id
            for r in TI.search_phrase_indexed(
                spark, idx, "table scan", slop=slop
            ).collect()
        )
        assert got == want, (slop, got, want)
        got_span = sorted(
            r.doc_id
            for r in TI.search_span_near(spark, idx, phrase, slop=slop).collect()
        )
        assert got_span == want, ("span", slop, got_span, want)
        want_un = sorted(
            d for d, t in rows if unordered_match(toks(t), phrase, 1 + slop)
        )
        got_un = sorted(
            r.doc_id
            for r in TI.search_span_near(
                spark, idx, phrase, slop=slop, in_order=False
            ).collect()
        )
        assert got_un == want_un, ("unordered", slop, got_un, want_un)
    # slop=0 ≡ the exact-adjacency path
    assert sorted(
        r.doc_id
        for r in TI.search_phrase_indexed(spark, idx, "table scan").collect()
    ) == sorted(
        r.doc_id
        for r in TI.search_phrase_indexed(spark, idx, "table scan", slop=0).collect()
    )
    # repeated phrase terms need distinct positions: "scan scan" only
    # where scan occurs twice within the window
    got_rep = sorted(
        r.doc_id
        for r in TI.search_phrase_indexed(spark, idx, "scan scan", slop=2).collect()
    )
    want_rep = sorted(
        d for d, t in rows if ordered_match(toks(t), ["scan", "scan"], 3)
    )
    assert got_rep == want_rep
    import pytest as _pt

    with _pt.raises(ValueError, match="slop"):
        TI.search_phrase_indexed(spark, idx, "table scan", slop=-1)
    with _pt.raises(ValueError, match=">= 2"):
        TI.search_span_near(spark, idx, ["table"])
    with _pt.raises(ValueError, match="distinct"):
        TI.search_span_near(
            spark, idx, ["scan", "scan"], slop=2, in_order=False
        )
    # ADVICE r14: clauses run through the index's analyzer, so a term
    # carrying punctuation matches the same postings as its clean form
    # instead of silently returning zero rows...
    dirty = sorted(
        r.doc_id
        for r in TI.search_span_near(
            spark, idx, ["Table,", " scan!"], slop=1
        ).collect()
    )
    clean = sorted(
        r.doc_id
        for r in TI.search_span_near(
            spark, idx, ["table", "scan"], slop=1
        ).collect()
    )
    assert dirty == clean and dirty
    # ...and a clause that analyzes to 0 or 2+ tokens raises loudly
    with _pt.raises(ValueError, match="analyzes to"):
        TI.search_span_near(spark, idx, ["table scan", "sort"])
    with _pt.raises(ValueError, match="analyzes to"):
        TI.search_span_near(spark, idx, ["table", "!!"])


def test_bm25_indexed_matches_scan_path(spark, tmp_path):
    """bm25_indexed vs the scan path's bm25_scores — identical scores
    (same formula, same 6dp rounding) from two different data paths
    (postings+norms vs corpus tokenize), fresh AND after
    delete+compact (tombstones must leave N/avgdl/df alike)."""
    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana date elderberry"),
            (3, "apple apple apple"),
            (4, "cherry date"),
            (5, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "bidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, positions=True)
    q = "apple cherry"

    def by_index():
        return {
            r.doc_id: r.bm25 for r in TI.bm25_indexed(spark, idx, q).collect()
        }

    def by_scan(d):
        return {
            r.doc_id: r.bm25
            for r in SQ.bm25_scores(d, "text", q, "doc_id").collect()
        }

    assert by_index() == by_scan(docs)

    TI.delete_docs(spark, idx, spark.createDataFrame([(3,)], "doc_id long"))
    shrunk = docs.filter("doc_id <> 3")
    assert by_index() == by_scan(shrunk)  # tombstones shift N/avgdl/df too
    TI.compact_term_index(spark, idx)
    assert by_index() == by_scan(shrunk)  # physical apply changes nothing

    # positionless index refuses (tf needs per-occurrence postings)
    flat = str(tmp_path / "bflat")
    TI.build_term_index(docs, "text", "doc_id", flat, buckets=8)
    with pytest.raises(ValueError, match="positions"):
        TI.bm25_indexed(spark, flat, q)


def test_suggest_terms_termdict_lifecycle(spark, tmp_path):
    """The compaction-persisted term dictionary: suggest answers from
    _termdict after compaction (and they equal the derived answers);
    a post-compaction APPEND invalidates it (its snapshot no longer
    lists the dictionary, fresh terms visible); post-compaction
    TOMBSTONES force the derivation fallback (deleted docs leave
    doc_freq immediately)."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "tdidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=4)

    def sugg():
        return {
            (r.term, r.doc_freq, r.dist)
            for r in TI.suggest_terms(spark, idx, "alpha", max_dist=1).collect()
        }

    def termdict():
        return TI._pin(spark, idx)[1]["files"].get("_termdict")

    before = sugg()  # derived (no dict yet)
    assert not termdict()
    TI.compact_term_index(spark, idx)
    assert termdict()
    assert sugg() == before == {("alpha", 2, 0)}

    # append invalidates: the stale dict must not hide 'alphq'
    TI.build_term_index(
        spark.createDataFrame([(4, "alphq")], "doc_id long, text string"),
        "text", "doc_id", idx, buckets=4, mode="append",
    )
    assert not termdict()
    assert sugg() == {("alpha", 2, 0), ("alphq", 1, 1)}

    # tombstones force the fallback even with a dict present
    TI.compact_term_index(spark, idx)
    assert termdict()
    TI.delete_docs(spark, idx, spark.createDataFrame([(1,)], "doc_id long"))
    assert termdict()
    assert sugg() == {("alpha", 1, 0), ("alphq", 1, 1)}


def test_search_after_cursor_semantics(spark):
    """search_after: walking pages by cursor reproduces the offset
    ranking exactly — including across a run of TIED sort keys, where
    the (key, id) cursor is what keeps pages overlap- and gap-free."""
    from pyspark.sql import functions as F

    rows = [(i, float(v)) for i, v in enumerate([9, 7, 7, 7, 7, 5, 5, 3, 2, 1])]
    df = spark.createDataFrame(rows, "id long, v double")
    full = [
        (r.id, r.v)
        for r in df.orderBy(F.col("v").desc(), F.col("id")).collect()
    ]
    pages, cursor = [], None
    for _ in range(5):
        if cursor is None:
            page = df.orderBy(F.col("v").desc(), F.col("id")).limit(3).collect()
        else:
            page = Q.search_after(
                df, 3, "v", cursor[1], cursor[0], "id", descending=True
            ).collect()
        if not page:
            break
        pages.extend((r.id, r.v) for r in page)
        cursor = (page[-1].id, page[-1].v)
    assert pages == full, (pages, full)
    # ascending too
    asc_full = [(r.id, r.v) for r in df.orderBy("v", "id").collect()]
    first = df.orderBy("v", "id").limit(4).collect()
    rest = Q.search_after(df, 10, "v", first[-1].v, first[-1].id, "id").collect()
    assert [(r.id, r.v) for r in first + rest] == asc_full
    with pytest.raises(ValueError):
        Q.search_after(df, 0, "v", 1.0, 1, "id")


def test_prefix_indexed_matches_scan(spark, tmp_path):
    """NEW r15: PrefixQuery from the term dictionary (range expansion
    + pruned postings) must return exactly the scan path's
    match_prefix ids; TooManyClauses cap, empty prefix raise,
    tombstones."""
    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = spark.createDataFrame(
        [
            (1, "table scan beats table misuse"),
            (2, "stable tables everywhere"),
            (3, "scan the cable"),
            (4, "tablet mode table"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "pidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8)
    for prefix in ["tab", "TAB", "scan", "c", "zz"]:
        assert TI.expand_prefix(spark, idx, prefix) == sorted(
            t for t in {"table", "tables", "tablet", "scan", "stable",
                        "beats", "misuse", "everywhere", "the", "cable",
                        "mode"}
            if t.startswith(prefix.lower())
        ), prefix
        got = {
            r["doc_id"]
            for r in TI.search_prefix_indexed(spark, idx, prefix).collect()
        }
        scan = {
            r["doc_id"]
            for r in docs.filter(SQ.match_prefix("text", prefix.lower())).collect()
        }
        assert got == scan, prefix
    got = {
        r["doc_id"]: r["n_matched"]
        for r in TI.search_prefix_indexed(spark, idx, "tab").collect()
    }
    assert got == {1: 1, 2: 1, 4: 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="TooManyClauses"):
        TI.expand_prefix(spark, idx, "t", max_expansions=2)
    with _pytest.raises(ValueError, match="empty prefix"):
        TI.expand_prefix(spark, idx, "  ")
    TI.delete_docs(spark, idx, docs.filter("doc_id = 2").select("doc_id"))
    got = {
        r["doc_id"]
        for r in TI.search_prefix_indexed(spark, idx, "tab").collect()
    }
    assert got == {1, 4}


def test_parse_query_dsl(spark):
    """NEW r15: the ES query-DSL parser. A stored bool tree compiles
    to the same predicate the hand-built constructors give; JSON
    string input; filter == must; loud failures on typos."""
    import json

    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    docs = spark.createDataFrame(
        [
            Row(id=1, kind="a", score=5, text="spark table scan"),
            Row(id=2, kind="a", score=9, text="slow merge join"),
            Row(id=3, kind="b", score=7, text="table scan again"),
            Row(id=4, kind=None, score=2, text="spark stream"),
        ]
    )
    dsl = {
        "bool": {
            "must": [{"range": {"score": {"gte": 3}}}],
            "filter": [{"exists": {"field": "kind"}}],
            "should": [
                {"match": {"text": "spark"}},
                {"match_phrase": {"text": "table scan"}},
                {"prefix": {"text": "mer"}},
            ],
            "minimum_should_match": 1,
        }
    }
    got = {r.id for r in docs.filter(SQ.parse_query(dsl)).collect()}
    assert got == {1, 2, 3}
    # JSON-string input parses identically
    got2 = {r.id for r in docs.filter(SQ.parse_query(json.dumps(dsl))).collect()}
    assert got2 == got
    # leaves: term / terms / wildcard / regexp / match_all
    assert {r.id for r in docs.filter(
        SQ.parse_query({"term": {"kind": {"value": "b"}}})).collect()} == {3}
    assert {r.id for r in docs.filter(
        SQ.parse_query({"terms": {"kind": ["a", "b"]}})).collect()} == {1, 2, 3}
    assert {r.id for r in docs.filter(
        SQ.parse_query({"wildcard": {"text": "st*am"}})).collect()} == {4}
    assert {r.id for r in docs.filter(
        SQ.parse_query({"regexp": {"text": "sca[nm]"}})).collect()} == {1, 3}
    assert docs.filter(SQ.parse_query({"match_all": {}})).count() == 4
    # loud failures: unknown type, unknown bool clause, malformed leaf
    import pytest as _pt

    with _pt.raises(ValueError, match="unsupported query type"):
        SQ.parse_query({"fuzzy": {"text": "spark"}})
    with _pt.raises(ValueError, match="unknown bool clause"):
        SQ.parse_query({"bool": {"must": [], "boost": 2}})
    with _pt.raises(ValueError, match="exactly one key"):
        SQ.parse_query({"term": {"a": 1, "b": 2}})
    with _pt.raises(ValueError, match="invalid query JSON"):
        SQ.parse_query("{not json")
    with _pt.raises(ValueError, match="unknown range bound"):
        SQ.parse_query({"range": {"score": {"gte": 1, "from": 2}}})


def test_update_delete_by_query_and_aliases(spark, tmp_path):
    """NEW r15: update_by_query / delete_by_query route through the
    CDC apply path (commit-logged, read-your-writes); aliases swap
    atomically and reject dangling targets."""
    from pyspark.sql import functions as F

    from platypus_ingestion_plugins_spark.serving import query as SQ
    from platypus_ingestion_plugins_spark.serving.table import (
        ServingTable,
        delete_by_query,
        read_alias,
        resolve_alias,
        set_alias,
        update_by_query,
    )

    t1 = str(tmp_path / "t1")
    tbl = ServingTable(spark, t1, key="id")
    tbl.overwrite(spark.createDataFrame(
        [(1, "a", 5), (2, "a", 9), (3, "b", 7)], "id long, kind string, score long"
    ))
    n = update_by_query(
        tbl, SQ.parse_query({"term": {"kind": "a"}}),
        {"score": F.col("score") + 100},
    )
    assert n == 2
    got = {r["id"]: r["score"] for r in tbl.query().collect()}
    assert got == {1: 105, 2: 109, 3: 7}
    import pytest as _pt

    with _pt.raises(ValueError, match="key column"):
        update_by_query(tbl, SQ.match_all(), {"id": F.lit(9)})
    assert update_by_query(tbl, F.col("kind") == "zz", {"score": F.lit(0)}) == 0
    n = delete_by_query(tbl, SQ.parse_query({"range": {"score": {"gte": 100}}}))
    assert n == 2
    assert {r["id"] for r in tbl.query().collect()} == {3}
    # aliases
    alias = str(tmp_path / "alias_current")
    set_alias(spark, alias, t1)
    assert resolve_alias(spark, alias) == t1
    assert {r["id"] for r in read_alias(spark, alias, key="id").collect()} == {3}
    # swap to a rebuilt table: readers move with no redeploy
    t2 = str(tmp_path / "t2")
    tbl2 = ServingTable(spark, t2, key="id")
    tbl2.overwrite(spark.createDataFrame([(9, "c", 1)], "id long, kind string, score long"))
    set_alias(spark, alias, t2)
    assert {r["id"] for r in read_alias(spark, alias, key="id").collect()} == {9}
    with _pt.raises(FileNotFoundError, match="not a serving table"):
        set_alias(spark, alias, str(tmp_path / "nope"))
    with _pt.raises(FileNotFoundError, match="no alias"):
        resolve_alias(spark, str(tmp_path / "never_set"))


def test_parse_query_es_body_forms_and_empty_analysis(spark):
    """Review-pass pins (r15, second pass): (1) the ES-canonical
    wrapped bodies parse ({'value': ...} for prefix/wildcard/regexp,
    {'query': ...} for the match family) and a missing wrapper key
    raises ValueError, never KeyError; (2) a match/phrase/prefix leaf
    whose text analyzes to zero tokens raises instead of silently
    compiling to match-all."""
    from pyspark.sql import Row

    from platypus_ingestion_plugins_spark.serving import query as SQ

    docs = spark.createDataFrame(
        [Row(id=1, text="spark table scan"), Row(id=2, text="slow merge")]
    )
    assert {r.id for r in docs.filter(SQ.parse_query(
        {"wildcard": {"text": {"value": "sc*n"}}})).collect()} == {1}
    assert {r.id for r in docs.filter(SQ.parse_query(
        {"prefix": {"text": {"value": "mer"}}})).collect()} == {2}
    assert {r.id for r in docs.filter(SQ.parse_query(
        {"regexp": {"text": {"value": "sca[nm]"}}})).collect()} == {1}
    assert {r.id for r in docs.filter(SQ.parse_query(
        {"match": {"text": {"query": "merge"}}})).collect()} == {2}
    import pytest as _pt

    with _pt.raises(ValueError, match="needs 'value'"):
        SQ.parse_query({"wildcard": {"text": {"query": "x"}}})
    with _pt.raises(ValueError, match="needs 'value'"):
        SQ.parse_query({"term": {"text": {}}})
    with _pt.raises(ValueError, match="analyzes to zero"):
        SQ.parse_query({"match_phrase": {"text": "!!!"}})
    with _pt.raises(ValueError, match="analyzes to zero"):
        SQ.parse_query({"prefix": {"text": ""}})


def test_filtered_alias(spark, tmp_path):
    """Filtered alias (r15 tail): a stored parse_query filter rides
    the indirection — a tenant handed the alias never sees past it;
    plain aliases keep the pre-filter sidecar format; a typo'd filter
    fails at SET time."""
    import pytest as _pt

    from platypus_ingestion_plugins_spark.serving.table import (
        ServingTable,
        read_alias,
        resolve_alias,
        set_alias,
    )

    t = str(tmp_path / "t")
    ServingTable(spark, t, key="id").overwrite(spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "id long, kind string"
    ))
    alias = str(tmp_path / "tenant_x")
    set_alias(spark, alias, t, filter_dsl={"term": {"kind": "x"}})
    # resolve_alias must REFUSE a filtered alias: the bare target
    # path would let the resolve-then-read pattern bypass the filter
    with _pt.raises(ValueError, match="FILTERED"):
        resolve_alias(spark, alias)
    assert {r["id"] for r in
            read_alias(spark, alias, key="id").collect()} == {1, 3}
    # swap back to an unfiltered alias: full view returns
    set_alias(spark, alias, t)
    assert {r["id"] for r in
            read_alias(spark, alias, key="id").collect()} == {1, 2, 3}
    with _pt.raises(ValueError, match="unsupported query type"):
        set_alias(spark, alias, t, filter_dsl={"nope": {"kind": "x"}})
