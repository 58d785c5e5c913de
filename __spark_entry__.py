"""Driver contract: entry(spark) smoke, queries() vs oracle_sql().

Every query routes through the engine's library operators
(platypus_ingestion_plugins_spark.*) so the oracle checks exercise the
real implementation, not ad-hoc SQL. Names/aliases match the oracle
exactly (the driver hashes values under name-sorted columns).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from platypus_ingestion_plugins_spark import concurrency
from platypus_ingestion_plugins_spark.functions import text as TX
from platypus_ingestion_plugins_spark.functions.converters import flatten_structs
from platypus_ingestion_plugins_spark.operators import asof, cdc, chat, dedup, multimodal, similarity
from platypus_ingestion_plugins_spark.operators.projection import drop_by_prefix, rename_fields
from platypus_ingestion_plugins_spark.operators.sharding import sharding_strategy
from platypus_ingestion_plugins_spark.serving import query as SQ


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects unless
        # read as a raw nanosecond long (set here because the driver owns
        # the session). All arithmetic on it uses integer DIV — ns values
        # (~1.7e18) exceed double precision.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ts_ms(df: DataFrame) -> "F.Column":
    """Epoch-millis expression for events.ts, long-ns or timestamp typed."""
    if dict(df.dtypes).get("ts") == "bigint":
        return F.expr("ts DIV 1000000")
    return F.unix_millis(F.col("ts").cast("timestamp"))


def _ts_hour(df: DataFrame) -> "F.Column":
    """'yyyy-MM-dd HH' string for events.ts (UTC), both physical types."""
    if dict(df.dtypes).get("ts") == "bigint":
        return F.date_format(F.timestamp_seconds(F.expr("ts DIV 1000000000")), "yyyy-MM-dd HH")
    return F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH")


def _median_split(df: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
    """(<= median, > median) two-drop split WITHOUT a driver-side
    value collect (VERDICT r9 task #7): the one-row exact-median
    aggregate is broadcast-joined in (scalar-subquery shape,
    BroadcastNestedLoopJoin on a single row — not a CartesianProduct),
    so the split predicate evaluates executor-side. Every streaming
    oracle is split-point independent by design; the split only has to
    be a deterministic partition of the rows, which an exact median is.

    The median frame is localCheckpoint'ed — evaluated ONCE, pinned as
    a single executor-side row — before fanning into both sides. The
    r10 form re-evaluated the aggregate inside EVERY job that touched
    lo or hi (exact median = full scan + single-reducer sort, once per
    merge batch / stream epoch downstream), which is precisely the
    serving_compact 2.3->4.8 s regression the r10 bench recorded
    (A/B-measured r11, SURVEY §6). Checkpointing also guarantees both
    sides split on the SAME value by construction, rather than by
    determinism of two independent evaluations. eager=False keeps
    query CONSTRUCTION action-free (the r9 task's actual objection to
    approxQuantile): the median job runs inside the first downstream
    action, then the pinned row is reused. Harness-scale trade (r11
    review #4): that first evaluation happens on the broadcast build
    thread, under spark.sql.broadcastTimeout (300 s default) — a
    non-issue at the oracle's sf0.01/sf0.1 sizes this helper exists
    for, but a production pipeline splitting a 100 TB frame should
    compute its split point as its own job (or raise the timeout),
    not through this broadcast."""
    m = df.select(F.median(F.col(col)).alias("__mid")).localCheckpoint(eager=False)
    lo = df.join(F.broadcast(m)).where(F.col(col) <= F.col("__mid")).drop("__mid")
    hi = df.join(F.broadcast(m)).where(F.col(col) > F.col("__mid")).drop("__mid")
    return lo, hi


def _dec_sum(col, scale: int, alias: str):
    """Exact decimal sum surfaced as double: deterministic across engines
    (double sums are order-dependent; decimal sums are exact)."""
    return F.sum(col.cast(f"decimal(30,{scale})")).cast("double").alias(alias)


# --------------------------------------------------------------------------
# CDC / ingestion surface (SURVEY §2.3, §2.2, §2.4, §1.2)
# --------------------------------------------------------------------------

def q_cdc_last_wins(spark, sf):
    """C1/C2/C7: events as a changelog (key=user_id, seq=event_id,
    click->delete, error->update-before[skipped], rest->upsert);
    last-wins materialized state."""
    ev = _t(spark, sf, "events")
    ch = ev.select(
        F.col("event_id").alias("_seq"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", "-D")
        .when(F.col("event_type") == "error", "-U")
        .otherwise("+I")
        .alias("_row_kind"),
    )
    state = cdc.apply_changelog(ch, "user_id")
    return state.select("user_id", "event_type", "value")


SQL_CDC_LAST_WINS = """
WITH ch AS (
  SELECT event_id AS seq, user_id, event_type, value,
         CASE WHEN event_type='click' THEN '-D'
              WHEN event_type='error' THEN '-U' ELSE '+I' END AS kind
  FROM events),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
  FROM ch WHERE kind IN ('+I','-D'))
SELECT user_id, event_type, value FROM ranked WHERE rn = 1 AND kind <> '-D'
"""


def q_sink_typed_strings(spark, sf):
    """§1.2 sink-boundary conversions on real data: timestamp->epoch-ms
    string, date->days-since-epoch, binary->base64."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.unix_millis(F.col("l_shipdate").cast("timestamp")).cast("string").alias("ship_ms"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("string")
        .alias("ship_days"),
        F.replace(F.base64(F.encode(F.col("l_returnflag"), "UTF-8")), F.lit("\r\n"), F.lit("")).alias("flag_b64"),
    )


SQL_SINK_TYPED_STRINGS = """
SELECT l_orderkey, l_linenumber,
       CAST(epoch_ms(l_shipdate) AS VARCHAR) AS ship_ms,
       CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS VARCHAR) AS ship_days,
       base64(encode(l_returnflag)) AS flag_b64
FROM lineitem
"""


def q_sink_array_json(spark, sf):
    """§1.2 ARRAY->JSON sink goldens on real data: numerics unquoted,
    strings quoted+escaped, null elements literal null, whole-NULL
    field elided to SQL NULL (PaimonToAddDocumentConverter.java:196-200,
    226-285; golden strings PaimonToAddDocumentConverterTest.java:
    231-293, null elision :374). Routed through converters.sink_column
    so the oracle checks the real sink expression."""
    from pyspark.sql import types as T

    from platypus_ingestion_plugins_spark.functions.converters import sink_column

    d = _t(spark, sf, "documents")
    str_arr = F.array(
        F.col("lang"),
        # force the escape path: a quote and a backslash in one element
        F.concat(F.lit('q"b\\s:'), F.col("source")),
        # every 7th doc carries a null element -> literal null in JSON
        F.when(F.col("n_chars") % 7 == 0, F.col("source")),
    )
    num_arr = F.array(
        F.col("n_chars"), F.col("n_chars") % 10, F.lit(None).cast("long")
    )
    # null-field elision: the whole array is NULL except every 5th doc
    maybe_arr = F.when(F.col("n_chars") % 5 == 0, str_arr)
    return d.select(
        "doc_id",
        sink_column(str_arr, T.ArrayType(T.StringType())).alias("tags_json"),
        sink_column(num_arr, T.ArrayType(T.LongType())).alias("nums_json"),
        sink_column(maybe_arr, T.ArrayType(T.StringType())).alias("maybe_json"),
    )


SQL_SINK_ARRAY_JSON = r"""
SELECT doc_id,
       to_json([lang,
                'q"b\s:' || source,
                CASE WHEN n_chars % 7 = 0 THEN source END]) AS tags_json,
       to_json([n_chars, n_chars % 10, NULL]) AS nums_json,
       CASE WHEN n_chars % 5 = 0
            THEN to_json([lang,
                          'q"b\s:' || source,
                          CASE WHEN n_chars % 7 = 0 THEN source END])
       END AS maybe_json
FROM documents
"""


def q_flatten_rename_drop(spark, sf):
    """P1/P2/P3: struct flattening, rename map, drop-by-prefix."""
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.struct("o_orderstatus", "o_orderpriority").alias("meta"),
        "o_totalprice",
        F.lit("x").alias("__internal_tmp"),
    )
    flat = flatten_structs(o)
    renamed = rename_fields(flat, {"o_totalprice": "total_price"})
    return drop_by_prefix(renamed, ["__internal_"])


SQL_FLATTEN_RENAME_DROP = """
SELECT o_orderkey, o_orderstatus AS meta_o_orderstatus,
       o_orderpriority AS meta_o_orderpriority, o_totalprice AS total_price
FROM orders
"""


def q_shard_modulo(spark, sf):
    """D3/D4: modulo shard 2-of-5 over orders (partition-pruned at scale)."""
    o = _t(spark, sf, "orders").withColumn(
        "__shard", F.pmod(F.col("o_orderkey"), F.lit(5)).cast("int")
    )
    strat = sharding_strategy("modulo", partition_field="__shard",
                              service_name="orders-service-2", max_shards=5)
    return drop_by_prefix(strat.apply(o), ["__"]).select("o_orderkey", "o_custkey", "o_orderstatus")


SQL_SHARD_MODULO = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 5 = 2
"""


# --------------------------------------------------------------------------
# Query surface Q1-Q8 (SURVEY §2.5)
# --------------------------------------------------------------------------

def q_match_all_topk(spark, sf):
    d = _t(spark, sf, "documents")
    return SQ.search(d, SQ.match_all(), top=10, order_by="doc_id",
                     fields=["doc_id", "lang", "source"])


SQL_MATCH_ALL_TOPK = "SELECT doc_id, lang, source FROM documents ORDER BY doc_id LIMIT 10"


def q_match_all_offset(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return SQ.top_hits(d, 5, start_hit=10, order_by="doc_id")


SQL_MATCH_ALL_OFFSET = "SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 5 OFFSET 10"


def q_term(spark, sf):
    d = _t(spark, sf, "documents")
    return SQ.search(d, SQ.term("lang", "en"), fields=["doc_id", "source", "n_chars"])


SQL_TERM = "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'"


def q_fulltext_match(spark, sf):
    d = _t(spark, sf, "documents")
    return SQ.search(d, SQ.match_text("text", "spark vector"), fields=["doc_id", "lang"])


SQL_FULLTEXT_MATCH = """
SELECT doc_id, lang FROM documents
WHERE len(list_intersect(string_split_regex(lower(text), '\\W+'), ['spark','vector'])) > 0
"""


def q_fulltext_ranked(spark, sf):
    """Ranked retrieval: OR-match scored by distinct-token coordination
    (serving/query.py:match_score), deterministic tie-break on doc_id,
    top 20. Global top-k = TakeOrdered (no full sort shuffle)."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id", SQ.match_score("text", "spark vector data engine").alias("score")
    )
    return scored.filter(F.col("score") > 0).orderBy(
        F.col("score").desc(), F.col("doc_id")
    ).limit(20)


SQL_FULLTEXT_RANKED = """
SELECT doc_id,
       len(list_intersect(list_distinct(string_split_regex(lower(text), '\\W+')),
                          ['data','engine','spark','vector'])) AS score
FROM documents
WHERE len(list_intersect(list_distinct(string_split_regex(lower(text), '\\W+')),
                         ['data','engine','spark','vector'])) > 0
ORDER BY score DESC, doc_id LIMIT 20
"""


def q_fulltext_tfidf(spark, sf):
    """TF-IDF relevance over the corpus: score(d) = sum over query
    terms of tf(t,d) * ln(N/df(t)) — term frequency from the document,
    document frequency and N from corpus statistics (two tiny
    broadcast aggregates). All-match scores returned unordered so the
    oracle compare is order-free (ln is IEEE-identical both engines at
    6-dp rounding)."""
    terms = ["spark", "vector", "data", "engine"]
    d = _t(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(SQ.tokenize("text")).alias("tok")).filter(
        F.col("tok").isin(terms)
    )
    n_docs = d.count()
    df_t = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.join(F.broadcast(df_t), "tok")
        .withColumn("__w", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .groupBy("doc_id")
        .agg(F.round(F.sum("__w"), 6).alias("tfidf"))
    )


SQL_FULLTEXT_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                    x -> x <> '')) AS tok
  FROM documents),
hits AS (SELECT doc_id, tok FROM toks WHERE tok IN ('spark','vector','data','engine')),
n AS (SELECT count(*) AS n_docs FROM documents),
dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM hits GROUP BY 1, 2)
SELECT doc_id, round(sum(tf * ln(n_docs::DOUBLE / df)), 6) AS tfidf
FROM tf JOIN dft USING (tok), n
GROUP BY doc_id
"""


def q_fulltext_bm25(spark, sf):
    """BM25 ranked retrieval — the scoring the reference's Lucene sink
    actually applies to TEXT fields (serving/query.py:bm25_scores).
    Unordered scores; the oracle reproduces the exact arithmetic."""
    d = _t(spark, sf, "documents")
    return SQ.bm25_scores(d, "text", "spark vector data engine", "doc_id")


SQL_FULLTEXT_BM25 = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM toked),
hits AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toked),
qh AS (SELECT * FROM hits WHERE tok IN ('data','engine','spark','vector')),
tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl FROM qh GROUP BY 1, 2),
dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM qh GROUP BY tok)
SELECT doc_id,
       round(sum(
         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       ), 6) AS bm25
FROM tf JOIN dft USING (tok), stats
GROUP BY doc_id
"""


def q_hybrid_search(spark, sf):
    """Hybrid retrieval (serving/query.rrf_fuse): BM25 lexical ranking
    and embedding-cosine ranking fused by reciprocal-rank fusion with
    INTEGER points (floor(1e9/(60+rank)) per system, rank within each
    system's top-50 by (rounded score desc, id) — a deterministic
    total order both engines replay exactly). Top-20 by fused points.
    The standard lexical+vector hybrid a RAG/serving stack runs; both
    underlying scorers are the already-oracled bm25_scores and
    brute_force_topk."""
    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    bm = SQ.bm25_scores(d, "text", "spark vector data engine", "doc_id")
    cos = similarity.brute_force_topk(
        e, e.filter(F.col("vec_id") == 0), k=50, dim=64
    ).withColumnRenamed("vec_id", "doc_id")
    return SQ.rrf_fuse(
        {"lexical": bm, "vector": cos},
        "doc_id",
        k_candidates=50,
        rrf_k=60,
        top=20,
    )


SQL_HYBRID_SEARCH = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM toked),
hits AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toked),
qh AS (SELECT * FROM hits WHERE tok IN ('data','engine','spark','vector')),
tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl FROM qh GROUP BY 1, 2),
dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM qh GROUP BY tok),
bm AS (
  SELECT doc_id,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS bm25
  FROM tf JOIN dft USING (tok), stats
  GROUP BY doc_id),
bm_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM bm QUALIFY rank <= 50),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cs
  FROM embeddings, q),
cos_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS rank
  FROM cos QUALIFY rank <= 50),
u AS (SELECT * FROM bm_rank UNION ALL SELECT * FROM cos_rank)
SELECT doc_id,
       CAST(sum(CAST(floor(1000000000 / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf,
       count(*) AS n_systems
FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
"""


def _synth_chat(d: DataFrame) -> DataFrame:
    """Deterministic SQL-replayable conversations from doc text (the
    image_neardup synthesis convention): text splits into 4 quarter
    chunks (chunk i = substr(text, i*q+1, q), q = max(floor(len/4),1));
    the conversation keeps the first 2 + doc_id%3 turns. Roles vary so
    the structural gates exercise every branch: turn 0 is 'system' for
    doc_id%7==0 (breaks starts_with_user), turn 2 is 'assistant' for
    doc_id%5==0 (breaks alternation), turns 1/3 are 'assistant'."""
    L = F.length(F.coalesce(F.col("text"), F.lit("")))
    q = F.greatest(F.floor(L / 4).cast("int"), F.lit(1))
    role0 = F.when(F.col("doc_id") % 7 == 0, F.lit("system")).otherwise(F.lit("user"))
    role2 = F.when(F.col("doc_id") % 5 == 0, F.lit("assistant")).otherwise(F.lit("user"))

    def turn(i, role):
        return F.struct(
            role.alias("role"),
            F.col("text").substr(F.lit(i) * q + 1, q).alias("content"),
        )

    turns4 = F.array(
        turn(0, role0),
        turn(1, F.lit("assistant")),
        turn(2, role2),
        turn(3, F.lit("assistant")),
    )
    n = (F.col("doc_id") % 3 + 2).cast("int")
    return d.select("doc_id", F.slice(turns4, 1, n).alias("turns"))


def q_chat_render(spark, sf):
    """SFT chat-template rendering (operators/chat.render_chat): the
    synthesized turn arrays fold into one ChatML-style training string
    per conversation — a pure-codegen left-fold, no shuffle."""
    d = _synth_chat(_t(spark, sf, "documents"))
    return d.select("doc_id", chat.render_chat("turns").alias("rendered"))


SQL_CHAT_RENDER = """
WITH t AS (
  SELECT doc_id, text,
         greatest(CAST(floor(length(text)/4) AS INT), 1) AS q,
         2 + doc_id % 3 AS n,
         CASE WHEN doc_id % 7 = 0 THEN 'system' ELSE 'user' END AS role0,
         CASE WHEN doc_id % 5 = 0 THEN 'assistant' ELSE 'user' END AS role2
  FROM documents)
SELECT doc_id,
  '<|im_start|>' || role0 || chr(10) || coalesce(substr(text, 1, q), '')
    || '<|im_end|>' || chr(10) ||
  '<|im_start|>assistant' || chr(10) || coalesce(substr(text, q+1, q), '')
    || '<|im_end|>' || chr(10) ||
  CASE WHEN n >= 3 THEN
    '<|im_start|>' || role2 || chr(10) || coalesce(substr(text, 2*q+1, q), '')
    || '<|im_end|>' || chr(10) ELSE '' END ||
  CASE WHEN n >= 4 THEN
    '<|im_start|>assistant' || chr(10) || coalesce(substr(text, 3*q+1, q), '')
    || '<|im_end|>' || chr(10) ELSE '' END AS rendered
FROM t
"""


def q_chat_sft_stats(spark, sf):
    """Conversation structural stats + the SFT admission gate
    (operators/chat.chat_turn_stats / sft_gate): per-turn role counts,
    assistant transcript length, alternation/opening checks, and the
    composed admission boolean — all array-local codegen expressions,
    zero shuffle."""
    d = _synth_chat(_t(spark, sf, "documents"))
    s = chat.chat_turn_stats("turns")
    # min_turns=3 so the 2-turn conversations exercise the reject branch
    return d.select(
        "doc_id",
        *s.values(),
        chat.sft_gate("turns", min_turns=3, max_turns=4).alias("admitted"),
    )


SQL_CHAT_SFT_STATS = """
WITH t AS (
  SELECT doc_id, text,
         greatest(CAST(floor(length(text)/4) AS INT), 1) AS q,
         CAST(2 + doc_id % 3 AS INT) AS n,
         doc_id % 7 = 0 AS sys0,
         doc_id % 5 = 0 AS asst2
  FROM documents),
c AS (
  SELECT doc_id, n,
         coalesce(length(substr(text, q+1, q)), 0) AS len1,
         coalesce(length(substr(text, 2*q+1, q)), 0) AS len2,
         coalesce(length(substr(text, 3*q+1, q)), 0) AS len3,
         sys0, asst2
  FROM t)
SELECT doc_id,
  CAST(n AS INT) AS n_turns,
  CAST((CASE WHEN NOT sys0 THEN 1 ELSE 0 END)
     + (CASE WHEN n >= 3 AND NOT asst2 THEN 1 ELSE 0 END) AS INT) AS n_user,
  CAST(1 + (CASE WHEN n >= 3 AND asst2 THEN 1 ELSE 0 END)
     + (CASE WHEN n >= 4 THEN 1 ELSE 0 END) AS INT) AS n_assistant,
  CAST(len1 + (CASE WHEN n >= 3 AND asst2 THEN len2 ELSE 0 END)
     + (CASE WHEN n >= 4 THEN len3 ELSE 0 END) AS BIGINT) AS assistant_chars,
  NOT sys0 AS starts_with_user,
  NOT (asst2 AND n >= 3) AS alternates,
  (len1 = 0 OR (n >= 3 AND asst2 AND len2 = 0) OR (n >= 4 AND len3 = 0))
    AS has_empty_assistant,
  (n >= 3 AND n <= 4 AND NOT sys0 AND NOT (asst2 AND n >= 3)
   AND NOT (len1 = 0 OR (n >= 3 AND asst2 AND len2 = 0)
            OR (n >= 4 AND len3 = 0))) AS admitted
FROM c
"""


def q_chat_assistant_dedup(spark, sf):
    """Assistant-response dedup (operators/chat.assistant_dedup): keep
    the smallest-id conversation per distinct assistant transcript.
    Responses here are 3-char text slices so the corpus genuinely
    collides; the shuffle carries only the sha2 key + id."""
    d = _t(spark, sf, "documents")
    turns = F.array(
        F.struct(
            F.lit("user").alias("role"),
            F.col("text").substr(F.lit(1), F.lit(4)).alias("content"),
        ),
        F.struct(
            F.lit("assistant").alias("role"),
            F.col("text").substr(F.lit(5), F.lit(3)).alias("content"),
        ),
    )
    conv = d.select("doc_id", turns.alias("turns"))
    kept = chat.assistant_dedup(conv, "doc_id", "turns")
    return kept.select(
        "doc_id", F.element_at("turns", 2)["content"].alias("resp")
    )


SQL_CHAT_ASSISTANT_DEDUP = """
WITH t AS (
  SELECT doc_id, substr(text, 5, 3) AS resp,
         coalesce(substr(text, 5, 3), '') AS k
  FROM documents)
SELECT doc_id, resp FROM t
WHERE doc_id IN (SELECT min(doc_id) FROM t GROUP BY k)
"""


def q_facet_counts(spark, sf):
    """Terms-facet aggregation (serving/query.facet_counts): top-5
    values of lang and source with counts and per-field rank — the
    facets sidecar of a Lucene search response, one scan + one
    groupBy + a rank window over aggregated counts only."""
    d = _t(spark, sf, "documents")
    return SQ.facet_counts(d, ["lang", "source"], top_n=5)


SQL_FACET_COUNTS = """
WITH pairs AS (
  SELECT 'lang' AS field, lang AS value FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT 'source' AS field, source AS value FROM documents WHERE source IS NOT NULL),
counts AS (
  SELECT field, value, count(*) AS cnt FROM pairs GROUP BY field, value)
SELECT field, value, cnt,
       CAST(row_number() OVER (PARTITION BY field ORDER BY cnt DESC, value)
            AS INT) AS rank
FROM counts QUALIFY rank <= 5
"""


def q_fix_mojibake(spark, sf):
    """Mojibake repair (functions/text.fix_mojibake): cp1252-misread
    UTF-8 sequences restored by the generated replace chain — the
    corpus is corrupted deterministically (literal mojibake framing +
    every 'e' double-encoded) and the fixed text must match the
    oracle's replay of the SAME generated pair table (one source of
    truth: both sides build from MOJIBAKE_PAIRS)."""
    d = _t(spark, sf, "documents")
    corrupted = F.concat(
        F.lit("cafÃ© â€œmixÃ©dâ€¦ "),
        F.replace(F.col("text"), F.lit("e"), F.lit("Ã©")),
        F.lit(" Â«endÂ» â€“ Â°"),
    )
    return d.select("doc_id", TX.fix_mojibake(corrupted).alias("text_fixed"))


def _mojibake_sql_chain(expr: str) -> str:
    from platypus_ingestion_plugins_spark.functions.text import MOJIBAKE_PAIRS

    for moji, ch in MOJIBAKE_PAIRS:
        expr = f"replace({expr}, '{moji}', '{ch}')"
    return expr


SQL_FIX_MOJIBAKE = f"""
SELECT doc_id,
       {_mojibake_sql_chain(
           "'cafÃ© â€œmixÃ©dâ€¦ ' || replace(text, 'e', 'Ã©')"
           " || ' Â«endÂ» â€“ Â°'"
       )} AS text_fixed
FROM documents
"""


def q_histogram_facet(spark, sf):
    """Numeric range facet (serving/query.histogram_facet): event
    values bucketed into width-25 bins — the Lucene histogram
    aggregation next to the terms facet; one groupBy over a codegen
    floor projection, sparse bins only."""
    ev = _t(spark, sf, "events")
    return SQ.histogram_facet(ev, "value", bin_width=25.0)


SQL_HISTOGRAM_FACET = """
SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
       count(*) AS cnt,
       round(CAST(floor(value / 25.0) AS BIGINT) * 25.0, 6) AS bin_lo
FROM events WHERE value IS NOT NULL
GROUP BY 1
"""


def q_range_bool_query(spark, sf):
    """Named RangeQuery/BooleanQuery constructors (serving/query.
    range_query + bool_query — the NRTSearch query-tree analogs next
    to term/match_*): events in a 3-day window with value >= 1 (must),
    matching at least one of {click, view, value > 50} (should), and
    excluding error events and two muted users (must_not, with the
    NULL-keeps semantics Lucene gives docs missing the field). The
    whole tree compiles to ONE codegen filter predicate pushed at the
    scan."""
    ev = _t(spark, sf, "events")
    if dict(ev.dtypes).get("ts") == "bigint":
        us = F.expr("ts DIV 1000")
    else:
        us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = ev.withColumn("ts_us", us)
    q = SQ.bool_query(
        must=[
            SQ.range_query(
                "ts_us", gte=1704153600000000, lt=1704412800000000
            ),
            SQ.range_query("value", gte=1.0),
        ],
        should=[
            SQ.term("event_type", "click"),
            SQ.term("event_type", "view"),
            SQ.range_query("value", gt=50.0),
        ],
        must_not=[
            SQ.term("event_type", "error"),
            SQ.term_in_set("user_id", [7, 13]),
        ],
        minimum_should_match=1,
    )
    return SQ.search(ev, q, fields=["event_id", "event_type", "value"])


SQL_RANGE_BOOL_QUERY = """
SELECT event_id, event_type, value
FROM events
WHERE epoch_us(ts) >= 1704153600000000 AND epoch_us(ts) < 1704412800000000
  AND value >= 1.0
  AND ((CASE WHEN coalesce(event_type = 'click', FALSE) THEN 1 ELSE 0 END)
     + (CASE WHEN coalesce(event_type = 'view', FALSE) THEN 1 ELSE 0 END)
     + (CASE WHEN coalesce(value > 50.0, FALSE) THEN 1 ELSE 0 END)) >= 1
  AND NOT coalesce(event_type = 'error', FALSE)
  AND NOT coalesce(user_id IN (7, 13), FALSE)
"""


_TERM_INDEX_MEMO: dict = {}


def _term_index_for(spark, sf, positions: bool) -> str:
    """One shared term index per (sf_dir, scheme) for the read-only
    indexed queries (term/fuzzy/phrase/bm25/hybrid): the testdata
    corpus is immutable per sf_dir, so rebuilding an identical index
    per query would only re-pay the build cost N times in the bench.
    Queries that MUTATE an index (lifecycle, streaming appends) build
    their own scratch copies and never touch this one."""
    import shutil

    from platypus_ingestion_plugins_spark.serving import text_index as TI

    key = (os.path.abspath(sf), positions)
    path = _TERM_INDEX_MEMO.get(key)
    if path is not None and os.path.exists(
        os.path.join(path, "_snapshots", "LATEST")
    ):
        return path
    work = _stream_scratch("term_idx_shared_")
    try:
        idx = os.path.join(work, "idx")
        TI.build_term_index(
            _t(spark, sf, "documents"),
            "text",
            "doc_id",
            idx,
            buckets=32,
            positions=positions,
        )
        _keep_until_exit(work, keep=idx)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    _TERM_INDEX_MEMO[key] = idx
    return idx


def q_indexed_term_search(spark, sf):
    """Materialized inverted term index (serving/text_index — the
    Lucene-parity scale path): posting lists written partitioned by
    term hash bucket, then an OR term search answered from PRUNED
    posting reads (literal tb IN (...) partition filter — file skip
    before data I/O, proven by the input_file_name test) instead of a
    corpus scan. Same analyzer as the scan path, so the oracle is the
    full-scan replay; n_matched is the coordination count. The index
    is the shared read-only build (_term_index_for)."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.search_terms_indexed(
        spark, idx, ["join", "scan", "merge"], id_col="doc_id"
    )


SQL_INDEXED_TERM_SEARCH = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents)
SELECT doc_id, CAST(count(*) AS INT) AS n_matched
FROM toks WHERE term IN ('join', 'scan', 'merge')
GROUP BY doc_id
"""


def q_fuzzy_suggest(spark, sf):
    """Fuzzy term suggestion (serving/text_index.suggest_terms —
    Lucene FuzzyQuery parity): index terms within 2 edits of the
    query term (dist-0 exact hit included), ranked (distance,
    doc-frequency desc, term). Scans the distinct term DICTIONARY
    built by the shared read-only index, never the corpus; both
    engines' levenshtein are the classic edit distance, so the ranked
    cut replays exactly."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.suggest_terms(spark, idx, "part", max_dist=2, top=10)


SQL_FUZZY_SUGGEST = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents),
d AS (SELECT term, count(*) AS doc_freq FROM toks GROUP BY term)
SELECT term, doc_freq, CAST(levenshtein(term, 'part') AS INT) AS dist
FROM d WHERE levenshtein(term, 'part') <= 2
ORDER BY dist, doc_freq DESC, term LIMIT 10
"""


def q_indexed_wildcard(spark, sf):
    """WildcardQuery (NEW r13, serving/text_index.search_wildcard_indexed
    + query.match_wildcard): the Lucene rewrite — expand 's?a*' against
    the term DICTIONARY (dictionary-sized I/O, TooManyClauses-capped),
    then one pruned posting read over the matched terms. The oracle
    replays the scan path (anchored regex over analyzed tokens), so
    the two algorithms cross-validate; n_matched is the per-doc count
    of distinct matched terms. Unit test pins indexed == scan on
    '*'/'?' semantics, literal metachar escape, the cap, and
    tombstones."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.search_wildcard_indexed(spark, idx, "s?a*", id_col="doc_id")


SQL_INDEXED_WILDCARD = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents)
SELECT doc_id, CAST(count(*) AS INT) AS n_matched
FROM toks WHERE regexp_matches(term, '^s.a.*$')
GROUP BY doc_id
"""


def q_more_like_this(spark, sf):
    """MoreLikeThis (NEW r13, serving/query.more_like_this — Lucene
    MLT): the seed document's top-5 terms by tf·ln((N+1)/(df+1))
    (min gates, (weight desc, term) cut) form a weight-boosted OR
    query; candidates rank by the summed weights of their DISTINCT
    matched terms, 6dp-rounded (bm25 convention), seed excluded,
    (score desc, id) cut. Two corpus aggregations + one broadcast
    join of the ≤5-term query — no collect beyond the N scalar."""
    d = _t(spark, sf, "documents")
    return SQ.more_like_this(
        d, "text", "doc_id", 1, max_query_terms=5, top=10
    )


SQL_MORE_LIKE_THIS = """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                              x -> x <> '')) AS term
    FROM documents) GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
sel AS (
  SELECT tf.term, tf.tf * ln((n.n + 1) / (dfc.df + 1)) AS weight
  FROM tf, dfc, n
  WHERE tf.doc_id = 1 AND tf.term = dfc.term
    AND tf.tf >= 1 AND dfc.df >= 1
  ORDER BY weight DESC, tf.term LIMIT 5)
SELECT tf.doc_id, round(sum(sel.weight), 6) AS mlt_score
FROM tf JOIN sel ON tf.term = sel.term
WHERE tf.doc_id <> 1
GROUP BY tf.doc_id
ORDER BY mlt_score DESC, doc_id LIMIT 10
"""


def q_date_histogram(spark, sf):
    """Date-histogram facet (NEW r13, serving/query.date_histogram_facet
    — the ES/NRTSearch date_histogram): purchases over 100 bucket by
    hour with min_doc_count=0, so EVERY hour between the slice's min
    and max materializes and the gaps carry cnt 0 (the sequence() grid
    is interval-bounded, broadcast-joined against one
    partial-aggregatable groupBy). Bucket formatted to the hourly_agg
    string convention for the oracle."""
    ev = _t(spark, sf, "events").where(
        (F.col("event_type") == "purchase") & (F.col("value") > 100)
    )
    return SQ.date_histogram_facet(ev, "ts", "hour", 0).select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "cnt",
    )


SQL_DATE_HISTOGRAM = """
WITH b AS (
  SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt
  FROM events
  WHERE event_type = 'purchase' AND value > 100 AND ts IS NOT NULL
  GROUP BY 1),
g AS (SELECT unnest(generate_series(min(bucket), max(bucket),
                                    INTERVAL 1 HOUR)) AS bucket FROM b)
SELECT strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
FROM g LEFT JOIN b USING (bucket)
"""


def q_multi_match(spark, sf):
    """MultiMatchQuery (NEW r13, serving/query.multi_match): boosted
    most_fields over (text ×1, source ×3) — integer coordination
    counts × fixed boosts keep the score engine-exact; the whole
    expression is per-row codegen, ranked top-20 with id tie-break."""
    d = _t(spark, sf, "documents")
    score = SQ.multi_match("scan src7 table", {"text": 1.0, "source": 3.0})
    return (
        d.select("doc_id", score.alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(20)
    )


SQL_MULTI_MATCH = """
WITH t AS (
  SELECT doc_id,
         len(list_intersect(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> '')),
             ['scan', 'src7', 'table'])) AS cb,
         len(list_intersect(list_distinct(list_filter(
             string_split_regex(lower(source), '\\W+'), x -> x <> '')),
             ['scan', 'src7', 'table'])) AS cs
  FROM documents)
SELECT doc_id, 1.0 * cb + 3.0 * cs AS score
FROM t WHERE 1.0 * cb + 3.0 * cs > 0
ORDER BY score DESC, doc_id LIMIT 20
"""


def q_funnel(spark, sf):
    """Funnel conversion (NEW r13, operators/analytics.funnel):
    view -> click -> purchase with greedy in-order semantics (step i
    needs a step-i event at-or-after the user's greedy step-i-1
    time). ONE shuffle: groupBy/pivot collects per-step timestamp
    lists, the step chain folds as nested codegen array expressions.
    The oracle computes the same chain as k staged aggregations — two
    algorithms cross-validated."""
    from platypus_ingestion_plugins_spark.operators.analytics import funnel

    return funnel(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
    )


SQL_FUNNEL = """
WITH u1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
u2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN u1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= u1.t1 GROUP BY 1),
u3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN u2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= u2.t2 GROUP BY 1),
c AS (SELECT (SELECT count(*) FROM u1) AS n1,
             (SELECT count(*) FROM u2) AS n2,
             (SELECT count(*) FROM u3) AS n3)
SELECT step, step_idx, n_users,
       CASE WHEN n1 > 0 THEN round(n_users / n1, 6) END AS pct_of_first
FROM c, (
  SELECT 'view' AS step, CAST(1 AS INT) AS step_idx,
         (SELECT n1 FROM c) AS n_users
  UNION ALL
  SELECT 'click', CAST(2 AS INT), (SELECT n2 FROM c)
  UNION ALL
  SELECT 'purchase', CAST(3 AS INT), (SELECT n3 FROM c))
"""


def q_significant_terms(spark, sf):
    """Significant-terms aggregation (NEW r14, serving/query.
    significant_terms — the Elasticsearch significant_terms bucket):
    terms over-represented in the lang='de' slice vs the whole corpus
    under the JLH heuristic (absolute lift x relative lift). One scan,
    distinct-terms-per-doc explode with the foreground flag carried
    through, one partial-aggregatable groupBy, 1-row totals broadcast,
    distributed TakeOrdered — never a vocabulary-wide window."""
    from platypus_ingestion_plugins_spark.serving.query import (
        significant_terms,
    )

    return significant_terms(
        _t(spark, sf, "documents"),
        "text",
        F.col("lang") == "de",
        top_n=10,
        min_doc_count=3,
    )


SQL_SIGNIFICANT_TERMS = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN coalesce(lang = 'de', FALSE) THEN 1 ELSE 0 END AS fg,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents),
tot AS (SELECT count(*) AS n_bg,
               sum(CASE WHEN coalesce(lang = 'de', FALSE)
                   THEN 1 ELSE 0 END) AS n_fg
        FROM documents),
pt AS (SELECT term, CAST(sum(fg) AS BIGINT) AS fg_count,
              CAST(count(*) AS BIGINT) AS bg_count
       FROM toks GROUP BY term)
SELECT term, fg_count, bg_count,
       round((fg_count * 1.0 / n_fg - bg_count * 1.0 / n_bg)
             * ((fg_count * 1.0 / n_fg) / (bg_count * 1.0 / n_bg)), 6)
           AS score
FROM pt, tot WHERE fg_count >= 3 AND n_fg > 0
ORDER BY score DESC, term LIMIT 10
"""


def q_event_paths(spark, sf):
    """Top user journeys (NEW r14, operators/analytics.event_paths):
    the most common first-4-event-type sequences — path analysis next
    to event_transitions' one-step matrix. The per-user prefix is cut
    with a row_number window BEFORE any list materializes (no fat
    collect_list row on a bot user — the funnel cascade lesson);
    event_id breaks ts ties deterministically."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        event_paths,
    )

    return event_paths(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        "event_type",
        max_len=4,
        top_n=15,
        order_col="event_id",
    )


SQL_EVENT_PATHS = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL),
pre AS (SELECT * FROM ranked WHERE rn <= 4),
per_user AS (
  SELECT user_id, string_agg(event_type, ' -> ' ORDER BY rn) AS path,
         CAST(count(*) AS INT) AS path_len
  FROM pre GROUP BY user_id)
SELECT path, CAST(count(*) AS BIGINT) AS n_users, path_len
FROM per_user GROUP BY path, path_len
ORDER BY n_users DESC, path LIMIT 15
"""


def q_rate_anomalies(spark, sf):
    """Event-rate anomaly readout (NEW r14, operators/analytics.
    rate_anomalies): per (type, hour) counts z-scored against the
    type's trailing 24 hours — spikes AND drops flag once at least 6
    prior buckets exist and variance is nonzero. One
    partial-aggregatable groupBy to hourly counts (the only
    corpus-sized stage), then windows over the hours x types series."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        rate_anomalies,
    )

    return rate_anomalies(
        _t(spark, sf, "events"),
        "ts",
        "event_type",
        window_hours=24,
        z_threshold=1.8,
        min_history=6,
    )


SQL_RATE_ANOMALIES = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
stats AS (
  SELECT event_type, hour, cnt,
         round(avg(cnt) OVER w, 6) AS mean_prev,
         round(stddev_samp(cnt) OVER w, 6) AS sd_prev,
         count(cnt) OVER w AS n_prev
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, hour, cnt, mean_prev, sd_prev,
       round((cnt - mean_prev) / sd_prev, 6) AS z
FROM stats
WHERE n_prev >= 6 AND sd_prev IS NOT NULL AND sd_prev > 0
  AND abs(round((cnt - mean_prev) / sd_prev, 6)) >= 1.8
"""


def q_tokenizer_fit(spark, sf):
    """Per-source tokenizer fit datasheet (NEW r14, functions/bpe.
    tokenizer_fit_report): compression (chars/token) and
    character-fallback share under the frozen merge table — the
    domain-shift go/no-go numbers for reusing a tokenizer. One
    Arrow-batched bpe_encode pass + a row-local singles count + one
    partial-aggregatable groupBy; the oracle replays the frozen
    replace-chain BPE and counts single-char symbols with a wrapped
    regexp."""
    from platypus_ingestion_plugins_spark.functions.bpe import (
        load_merges_txt,
        tokenizer_fit_report,
    )

    d = _t(spark, sf, "documents")
    merges = load_merges_txt(_BPE_FROZEN)
    return tokenizer_fit_report(d, "text", "source", "doc_id", merges)


def _tokenizer_fit_oracle_sql() -> str:
    stx, etx = "\x02", "\x03"
    expr = _bpe_word_rep_sql("w")
    return f"""
WITH words AS (
  SELECT doc_id,
         unnest(regexp_extract_all(coalesce(text, ''), '\\w+|[^\\w\\s]')) AS w
  FROM documents),
reps AS (
  SELECT doc_id, {expr} AS rep FROM words),
per_doc AS (
  SELECT doc_id,
         sum(length(rep) - length(replace(rep, '{stx}', ''))) AS n,
         sum(len(regexp_extract_all(rep,
             '{stx}[^{stx}{etx}]{etx}'))) AS singles
  FROM reps GROUP BY doc_id),
base AS (
  SELECT d.source AS "group", coalesce(p.n, 0) AS n,
         coalesce(p.singles, 0) AS s,
         length(coalesce(d.text, '')) AS ch
  FROM documents d LEFT JOIN per_doc p USING (doc_id))
SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(ch) AS BIGINT) AS n_chars,
       round(sum(ch) * 1.0 / nullif(sum(n), 0), 6) AS chars_per_token,
       CAST(sum(s) AS BIGINT) AS single_char_tokens,
       round(sum(s) * 1.0 / nullif(sum(n), 0), 6) AS single_char_rate
FROM base GROUP BY "group"
"""


def _events_ts(spark, sf):
    """events with ts normalized to a true TIMESTAMP (session-tz UTC),
    whichever physical type the parquet carries (the _ts_ms twin for
    operators that need real timestamp arithmetic)."""
    df = _t(spark, sf, "events")
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def q_attribution(spark, sf):
    """Multi-touch attribution (NEW r14, operators/analytics.
    attribution): purchase conversions credited to click/view touches
    under the U-shaped position model (40/20/40) within a 1-day
    lookback; event_id breaks ts ties. One equi-join on user over the
    pre-filtered types + one per-conversion window + a channel-sized
    groupBy — the join and window share keys, one partitioning."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        attribution,
    )

    return attribution(
        _events_ts(spark, sf),
        "user_id",
        "ts",
        "event_type",
        "purchase",
        ["click", "view"],
        model="position",
        lookback_s=86400,
        order_col="event_id",
    )


SQL_ATTRIBUTION = """
WITH conv AS (
  SELECT user_id u, ts cts, event_id cid FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL),
touch AS (
  SELECT user_id u, ts tts, event_type channel, event_id oid FROM events
  WHERE event_type IN ('click', 'view') AND ts IS NOT NULL),
ranked AS (
  SELECT channel,
         row_number() OVER (PARTITION BY u, cts, cid ORDER BY tts, oid) rn,
         count(*) OVER (PARTITION BY u, cts, cid) nt
  FROM conv JOIN touch USING (u)
  WHERE tts <= cts AND tts >= cts - INTERVAL 86400 SECOND),
wts AS (
  SELECT channel,
         CASE WHEN nt = 1 THEN 1.0 WHEN nt = 2 THEN 0.5
              WHEN rn = 1 OR rn = nt THEN 0.4
              ELSE 0.2 / (nt - 2) END w
  FROM ranked),
per AS (SELECT channel, sum(w) credit FROM wts WHERE w > 0
        GROUP BY channel),
tot AS (SELECT sum(credit) t FROM per)
SELECT channel, round(credit, 6) AS credit, round(credit / t, 6) AS share
FROM per, tot ORDER BY credit DESC, channel
"""


def q_survival_km(spark, sf):
    """Kaplan-Meier churn curve (NEW r14, operators/analytics.
    user_durations + survival_km): per-user first-to-last-event spans,
    churn = 1h of silence before the corpus edge, then the KM
    estimator over the distinct-duration grid (windows run over the
    grid, never events; d==n terminal point pinned to exactly 0)."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        survival_km,
        user_durations,
    )

    dur = user_durations(_events_ts(spark, sf), "user_id", "ts", 3600)
    return survival_km(dur, "duration_s", "observed")


SQL_SURVIVAL_KM = """
WITH per AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) f,
         CAST(floor(epoch(max(ts))) AS BIGINT) l
  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
edge AS (SELECT max(l) e FROM per),
dur AS (SELECT l - f AS t,
               CASE WHEN l <= e - 3600 THEN 1 ELSE 0 END obs
        FROM per, edge),
grid AS (SELECT t, CAST(sum(obs) AS BIGINT) events,
                CAST(sum(1 - obs) AS BIGINT) censored
         FROM dur GROUP BY t),
st AS (
  SELECT t, events, censored,
         CAST((SELECT sum(events + censored) FROM grid)
              - coalesce(sum(events + censored) OVER (
                  ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS n_risk
  FROM grid)
SELECT t, n_risk, events, censored,
       round(CASE WHEN min(1.0 - events * 1.0 / n_risk)
                       OVER (ORDER BY t) <= 0.0 THEN 0.0
                  -- the ln argument is pinned to 1.0 at the d==n
                  -- terminal point: window exprs evaluate on every
                  -- row regardless of the outer CASE, and DuckDB's
                  -- ln(0) raises instead of returning -inf
                  ELSE exp(sum(ln(CASE WHEN events >= n_risk THEN 1.0
                                   ELSE 1.0 - events * 1.0 / n_risk END))
                           OVER (ORDER BY t)) END, 6) AS survival
FROM st ORDER BY t
"""


def q_rfm_segments(spark, sf):
    """RFM segmentation (NEW r14, operators/analytics.rfm_segments):
    recency/frequency/monetary quintiles over the orders log, ties on
    custkey, higher = better, '555' = best. One groupBy(customer) to
    the customer grid; the ntile windows sort that grid only."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        rfm_segments,
    )

    return rfm_segments(
        _t(spark, sf, "orders"),
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        n_tiles=5,
    )


SQL_RFM_SEGMENTS = """
WITH per AS (
  SELECT o_custkey customer, max(o_orderdate::DATE) last_d,
         CAST(count(*) AS BIGINT) frequency,
         round(sum(o_totalprice), 6) monetary
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
edge AS (SELECT max(last_d) e FROM per),
base AS (
  SELECT customer, date_diff('day', last_d, e)::INT recency_days,
         frequency, monetary
  FROM per, edge),
scored AS (
  SELECT customer, recency_days, frequency, monetary,
         ntile(5) OVER (ORDER BY recency_days DESC, customer) r_score,
         ntile(5) OVER (ORDER BY frequency, customer) f_score,
         ntile(5) OVER (ORDER BY monetary, customer) m_score
  FROM base)
SELECT customer, recency_days, frequency, monetary,
       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
FROM scored
"""


_PERCOLATE_REGISTRY = [
    (1, ["spark", "shuffle"]),
    (2, ["hash", "merge"]),
    (3, ["window", "sort", "table"]),
    (4, ["scan"]),
    (5, ["spark", "nosuchterm"]),
]


def q_percolate(spark, sf):
    """Percolation / reverse search (NEW r14, serving/query.
    percolate): a fixed saved-search registry matched against the
    documents corpus — a doc matches when its token set covers ALL of
    a query's distinct terms. Registry broadcast, docs explode once,
    one broadcast equi-join on term + a per-(doc, query) count-off."""
    from platypus_ingestion_plugins_spark.serving.query import percolate

    reg = spark.createDataFrame(
        _PERCOLATE_REGISTRY, "qid long, terms array<string>"
    )
    return percolate(
        _t(spark, sf, "documents"), reg, "text", "doc_id", "qid", "terms"
    )


SQL_PERCOLATE = """
WITH reg AS (
  SELECT * FROM (VALUES
    (1, ['spark', 'shuffle']), (2, ['hash', 'merge']),
    (3, ['window', 'sort', 'table']), (4, ['scan']),
    (5, ['spark', 'nosuchterm'])) t(qid, terms)),
regx AS (
  SELECT CAST(qid AS BIGINT) qid, len(list_distinct(terms)) need,
         unnest(list_distinct(terms)) term
  FROM reg),
toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
      string_split_regex(lower(text), '\\W+'), x -> x <> ''))) term
  FROM documents)
SELECT doc_id, qid FROM toks JOIN regx USING (term)
GROUP BY doc_id, qid, need HAVING count(*) >= need
"""


def q_collapse(spark, sf):
    """Field collapsing (NEW r14, serving/query.collapse_topk — the
    Elasticsearch collapse + inner_hits count): one champion doc per
    source by n_chars, top 10 groups. One window on the collapse key
    (row_number + count share the partitioning) + a distributed
    TakeOrdered."""
    from platypus_ingestion_plugins_spark.serving.query import (
        collapse_topk,
    )

    return collapse_topk(
        _t(spark, sf, "documents"),
        "source",
        "n_chars",
        k=10,
        tie_break="doc_id",
    )


SQL_COLLAPSE = """
WITH ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC NULLS LAST, doc_id) rn,
         count(*) OVER (PARTITION BY source) gc
  FROM documents)
SELECT doc_id, text, lang, source, n_chars,
       CAST(gc AS BIGINT) AS group_count
FROM ranked WHERE rn = 1
ORDER BY n_chars DESC NULLS LAST, doc_id, source LIMIT 10
"""


def q_tfidf_keywords(spark, sf):
    """Per-doc TF-IDF keywords (NEW r14, functions/text.
    tfidf_keywords): each doc's top-3 terms under smoothed tf-idf.
    One explode; tf and df reduce the same frame; N rides a 1-row
    broadcast; the rank window partitions by doc — a doc's
    vocabulary, never the corpus."""
    from platypus_ingestion_plugins_spark.functions.text import (
        tfidf_keywords,
    )

    return tfidf_keywords(_t(spark, sf, "documents"), "text", "doc_id", k=3)


SQL_TFIDF_KEYWORDS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
      string_split_regex(lower(text), '\\W+'), x -> length(x) >= 2)) term
  FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
       FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(*) dfreq FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) nd FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * (ln((nd + 1) * 1.0 / (dfreq + 1)) + 1.0), 6) score
  FROM tf JOIN dfq USING (term), n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) rank
  FROM scored)
SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_rouge_pairs(spark, sf):
    """ROUGE-2 eval (NEW r14, functions/text.rouge_n): each doc
    scored against the NEXT doc of its source as the candidate (the
    adjacent-pair harness for the pairwise metric). Clipped bigram
    overlap; codegen n-gram arrays, one full-outer count join, one
    groupBy(id)."""
    from pyspark.sql.window import Window

    from platypus_ingestion_plugins_spark.functions.text import rouge_n

    d = _t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = d.select(
        "doc_id",
        F.col("text").alias("ref"),
        F.lead("text").over(w).alias("cand"),
    ).where(F.col("cand").isNotNull())
    return rouge_n(paired, "ref", "cand", "doc_id", n=2)


SQL_ROUGE_PAIRS = """
WITH paired AS (
  SELECT doc_id, text AS rtxt,
         lead(text) OVER (PARTITION BY source ORDER BY doc_id) AS cand
  FROM documents),
pp AS (SELECT * FROM paired WHERE cand IS NOT NULL),
rt AS MATERIALIZED (
  SELECT doc_id, t, row_number() OVER (PARTITION BY doc_id) - 1 pos
  FROM (SELECT doc_id, unnest(list_filter(
      string_split_regex(lower(rtxt), '\\W+'), x -> x <> '')) t FROM pp)),
ct AS MATERIALIZED (
  SELECT doc_id, t, row_number() OVER (PARTITION BY doc_id) - 1 pos
  FROM (SELECT doc_id, unnest(list_filter(
      string_split_regex(lower(cand), '\\W+'), x -> x <> '')) t FROM pp)),
rg AS (SELECT a.doc_id, a.t || ' ' || b.t gram, count(*) rn
       FROM rt a JOIN rt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       GROUP BY 1, 2),
cg AS (SELECT a.doc_id, a.t || ' ' || b.t gram, count(*) cn
       FROM ct a JOIN ct b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       GROUP BY 1, 2),
clip AS (
  SELECT coalesce(rg.doc_id, cg.doc_id) doc_id,
         CAST(sum(coalesce(rn, 0)) AS BIGINT) ref_ngrams,
         CAST(sum(coalesce(cn, 0)) AS BIGINT) cand_ngrams,
         CAST(sum(least(coalesce(rn, 0), coalesce(cn, 0))) AS BIGINT)
             overlap
  FROM rg FULL OUTER JOIN cg USING (doc_id, gram) GROUP BY 1),
base AS (
  SELECT p.doc_id, coalesce(ref_ngrams, 0) ref_ngrams,
         coalesce(cand_ngrams, 0) cand_ngrams, coalesce(overlap, 0) overlap
  FROM pp p LEFT JOIN clip USING (doc_id))
SELECT doc_id, ref_ngrams, cand_ngrams, overlap,
       round(CASE WHEN cand_ngrams > 0
                  THEN overlap * 1.0 / cand_ngrams END, 6) AS precision,
       round(CASE WHEN ref_ngrams > 0
                  THEN overlap * 1.0 / ref_ngrams END, 6) AS recall,
       round(CASE WHEN cand_ngrams > 0 AND ref_ngrams > 0
                  THEN 2.0 * overlap / (cand_ngrams + ref_ngrams)
             END, 6) AS f1
FROM base
"""


def q_char_entropy(spark, sf):
    """Char-entropy gibberish signal (NEW r14, functions/text.
    char_entropy_stats): per-doc character-distribution Shannon
    entropy in bits. Two bounded shuffles ((id, char) then (id)),
    no UDF."""
    from platypus_ingestion_plugins_spark.functions.text import (
        char_entropy_stats,
    )

    return char_entropy_stats(_t(spark, sf, "documents"), "text", "doc_id")


SQL_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, substring(text, i, 1) ch
  FROM documents, unnest(range(1, length(coalesce(text, '')) + 1)) t(i)),
cnts AS (SELECT doc_id, ch, count(*) cnt FROM chars GROUP BY 1, 2),
per AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) n_chars,
         sum(cnt * log2(cnt)) s
  FROM cnts GROUP BY doc_id)
SELECT d.doc_id, coalesce(per.n_chars, 0) AS n_chars,
       CASE WHEN per.n_chars > 0
            THEN round(log2(per.n_chars) - s / per.n_chars, 6) END AS entropy
FROM documents d LEFT JOIN per USING (doc_id)
"""


def q_phrase_prefix(spark, sf):
    """Search-as-you-type (NEW r14, serving/query.
    match_phrase_prefix): 'table sc' matches docs where 'table' is
    followed by a token starting with 'sc'. Sentinel-padded joined
    tokens, pure codegen."""
    from platypus_ingestion_plugins_spark.serving.query import (
        match_phrase_prefix,
        search,
    )

    d = _t(spark, sf, "documents")
    return search(
        d, query=match_phrase_prefix("text", "table sc"), top=None
    ).select("doc_id", "source")


SQL_PHRASE_PREFIX = """
SELECT doc_id, source FROM documents
WHERE ' ' || array_to_string(list_filter(
          string_split_regex(lower(text), '\\W+'), x -> x <> ''), ' ')
      || ' ' LIKE '% table sc%'
"""


def q_stats_facet(spark, sf):
    """Stats-in-terms facet (NEW r14, serving/query.stats_facet): per
    event type, (n, min, max, sum, avg) of the value field — the ES
    stats sub-aggregation. One partial-aggregatable groupBy."""
    from platypus_ingestion_plugins_spark.serving.query import stats_facet

    return stats_facet(_t(spark, sf, "events"), "value", "event_type")


SQL_STATS_FACET = """
SELECT event_type AS bucket, CAST(count(value) AS BIGINT) AS n,
       min(value) AS min, max(value) AS max,
       round(sum(value), 6) AS sum, round(avg(value), 6) AS avg
FROM events WHERE event_type IS NOT NULL GROUP BY event_type
"""


def q_recency_decay(spark, sf):
    """function_score recency boost (NEW r14, serving/query.
    decay_score): orders ranked by o_totalprice x gauss decay of
    order age (scale 30 days, decay 0.5 — half-strength at a month
    old). Pure codegen arithmetic over one scan + a 1-row max-date
    broadcast; top 20 by (score desc, key)."""
    from platypus_ingestion_plugins_spark.serving.query import decay_score

    o = _t(spark, sf, "orders")
    edge = o.agg(F.max("o_orderdate").alias("_edge"))
    aged = o.crossJoin(F.broadcast(edge)).withColumn(
        "_age_s",
        F.col("_edge").cast("timestamp").cast("long")
        - F.col("o_orderdate").cast("timestamp").cast("long"),
    )
    scored = aged.select(
        "o_orderkey",
        "o_totalprice",
        F.round(
            F.col("o_totalprice")
            * decay_score(F.col("_age_s"), 30 * 86400.0, 0.5, "gauss"),
            6,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("o_orderkey")).limit(
        20
    )


SQL_RECENCY_DECAY = """
WITH edge AS (SELECT max(o_orderdate) e FROM orders),
aged AS (
  SELECT o_orderkey, o_totalprice,
         floor(epoch(e)) - floor(epoch(o_orderdate)) age_s
  FROM orders, edge)
SELECT o_orderkey, o_totalprice,
       round(o_totalprice * exp(-(age_s * age_s)
             / (2.0 * (-(2592000.0 * 2592000.0) / (2.0 * ln(0.5))))), 6)
           AS score
FROM aged ORDER BY score DESC, o_orderkey LIMIT 20
"""


def q_stream_rate_anomalies(spark, sf):
    """Streaming rate-anomaly monitor (NEW r14, operators/analytics.
    hourly_counts_merge_into + rate_anomalies_read): events arrive in
    two drops through a real checkpointed foreachBatch; the hourly
    (type, hour) grid accumulates ALGEBRAICALLY under the shared
    epoch-pinned commit (exact counts — replay folds to
    exactly-once), and the readout z-scores the grid through the SAME
    code path as the batch twin, so the post-stream answer equals
    rate_anomalies over everything ingested (the oracle)."""
    import shutil

    from platypus_ingestion_plugins_spark.operators.analytics import (
        hourly_counts_merge_into,
        rate_anomalies_read,
    )

    d = _events_ts(spark, sf).select("event_id", "ts", "event_type")
    lo, hi = _median_split(d, "event_id")
    work = _stream_scratch("stream_rate_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        state = os.path.join(work, "hourly")

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(
                    lambda b, bid: hourly_counts_merge_into(
                        b, "ts", "event_type", state, batch_id=bid
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        out = rate_anomalies_read(
            spark, state, window_hours=24, z_threshold=1.8, min_history=6
        )
        # materialize before the scratch dir is scheduled for cleanup
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def q_pagerank(spark, sf):
    """Weighted PageRank (NEW r14, operators/graph.pagerank) over the
    event-transition graph (edges = consecutive event-type pairs per
    user, weight = transition count): 5 fixed power-iteration rounds,
    damping 0.85, dangling mass redistributed uniformly. Each round =
    one co-partitioned join + one partial-aggregatable groupBy; the
    oracle unrolls the same rounds as SQL CTEs."""
    from pyspark.sql.window import Window

    from platypus_ingestion_plugins_spark.operators.graph import pagerank

    d = _events_ts(spark, sf)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    edges = (
        d.where(F.col("ts").isNotNull())
        .select(
            F.lag("event_type").over(w).alias("s"),
            F.col("event_type").alias("t"),
        )
        .where(F.col("s").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return pagerank(edges, "s", "t", "w", iterations=5, damping=0.85)


def _pagerank_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """The same fixed power-iteration rounds unrolled as SQL CTEs."""
    d = damping
    head = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) s,
         event_type t
  FROM events WHERE ts IS NOT NULL),
e AS (SELECT s, t AS d, CAST(count(*) AS DOUBLE) w
      FROM pairs WHERE s IS NOT NULL GROUP BY 1, 2),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
ow AS (SELECT s AS node, sum(w) ow FROM e GROUP BY s),
n AS (SELECT CAST(count(*) AS DOUBLE) n FROM nodes),
r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes, n)"""
    body = []
    for i in range(iterations):
        body.append(f""",
d{i} AS (SELECT coalesce(sum(CASE WHEN ow.ow IS NULL
                             THEN r{i}.rank END), 0) dang
         FROM r{i} LEFT JOIN ow USING (node)),
c{i} AS (SELECT e.d AS node, sum(r{i}.rank * e.w / ow.ow) inp
         FROM r{i} JOIN ow USING (node) JOIN e ON e.s = r{i}.node
         GROUP BY e.d),
r{i + 1} AS (SELECT nodes.node,
             (1.0 - {d}) / n.n
             + {d} * (coalesce(c{i}.inp, 0) + d{i}.dang / n.n) AS rank
             FROM nodes LEFT JOIN c{i} USING (node), n, d{i})""")
    return (
        head
        + "".join(body)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


def q_fd_violations(spark, sf):
    """FD discovery (NEW r14, operators/validate.fd_violations):
    sources whose documents carry more than one language — the
    profiling complement to the declared constraint checks. One
    partial-aggregatable groupBy, group-count-sized output."""
    from platypus_ingestion_plugins_spark.operators.validate import (
        fd_violations,
    )

    return fd_violations(_t(spark, sf, "documents"), "source", "lang")


SQL_FD_VIOLATIONS = """
SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS n_rhs_values,
       CAST(count(*) AS BIGINT) AS n_rows
FROM documents GROUP BY source HAVING count(DISTINCT lang) > 1
"""


def q_pmi_pairs(spark, sf):
    """Term-pair PMI collocations (NEW r14, functions/text.pmi_pairs):
    which of the 30 most document-frequent terms travel together,
    doc-level probabilities, >= 5 shared docs, top 20 by PMI. The
    vocab bound caps the per-doc pair fan-out at vocab^2/2 — the
    explicit blocking that keeps the self-join candidate-driven."""
    from platypus_ingestion_plugins_spark.functions.text import pmi_pairs

    return pmi_pairs(
        _t(spark, sf, "documents"), "text", "doc_id",
        vocab=30, min_pair_docs=5, top_n=20,
    )


SQL_PMI_PAIRS = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
      string_split_regex(lower(text), '\\W+'), x -> x <> ''))) term
  FROM documents),
dfreq AS (SELECT term, count(*) df FROM toks GROUP BY term),
vocab AS (
  SELECT term, df FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) rk
    FROM dfreq) WHERE rk <= 30),
filt AS (SELECT doc_id, term FROM toks JOIN vocab USING (term)),
pairs AS (
  SELECT a.term term_a, b.term term_b,
         CAST(count(*) AS BIGINT) n_pair_docs
  FROM filt a JOIN filt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 5),
n AS (SELECT count(DISTINCT doc_id) nd FROM documents)
SELECT term_a, term_b, n_pair_docs,
       round(ln(n_pair_docs * 1.0 * nd / (va.df * vb.df)), 6) AS pmi
FROM pairs
JOIN vocab va ON va.term = pairs.term_a
JOIN vocab vb ON vb.term = pairs.term_b, n
ORDER BY pmi DESC, term_a, term_b LIMIT 20
"""


def q_stream_percolate(spark, sf):
    """Streaming percolation / alerting (NEW r14, serving/query.
    percolate_stream_append + read_alerts): documents arrive in two
    drops through a real checkpointed foreachBatch, each batch
    matching against the fixed saved-search registry and appending
    its (doc, query) hits to the alert log — set-semantic rows, so
    replays collapse on the distinct read. Post-stream alerts must
    equal the one-shot batch percolate (the oracle)."""
    import shutil

    from platypus_ingestion_plugins_spark.serving.query import (
        percolate_stream_append,
        read_alerts,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    reg = spark.createDataFrame(
        _PERCOLATE_REGISTRY, "qid long, terms array<string>"
    )
    lo, hi = _median_split(d, "doc_id")
    work = _stream_scratch("stream_perc_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        alerts = os.path.join(work, "alerts")

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(
                    lambda b, bid: percolate_stream_append(
                        b, reg, "text", "doc_id", "qid", "terms", alerts
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        out = read_alerts(spark, alerts)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def q_seasonal_anomalies(spark, sf):
    """Seasonally-baselined anomalies (NEW r14, operators/analytics.
    seasonal_rate_anomalies): each (type, hour) bucket z-scored
    against the SAME hour-of-day across the trailing week — the
    daily-rhythm-aware twin of rate_anomalies. Same corpus-sized
    hourly groupBy; windows partition by (type, hour-of-day) over the
    grid."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        seasonal_rate_anomalies,
    )

    return seasonal_rate_anomalies(
        _events_ts(spark, sf), "ts", "event_type",
        window_days=7, z_threshold=1.5, min_history=3,
    )


SQL_SEASONAL_ANOMALIES = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
st AS (
  SELECT event_type, hour, CAST(hour(hour) AS INT) hod, cnt,
         round(avg(cnt) OVER w, 6) AS mean_prev,
         round(stddev_samp(cnt) OVER w, 6) AS sd_prev,
         count(cnt) OVER w AS n_prev
  FROM hourly
  WINDOW w AS (PARTITION BY event_type, hour(hour) ORDER BY hour
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, hour, hod, cnt, mean_prev, sd_prev,
       round((cnt - mean_prev) / sd_prev, 6) AS z
FROM st
WHERE n_prev >= 3 AND sd_prev IS NOT NULL AND sd_prev > 0
  AND abs(round((cnt - mean_prev) / sd_prev, 6)) >= 1.5
"""


def q_terms_lookup(spark, sf):
    """Terms-lookup query (NEW r14, serving/query.terms_lookup — the
    ES variant of term_in_set with a table-side set): documents whose
    language is in the data-derived allowlist of languages appearing
    in >= 30 docs. The lookup side is dictionary-sized by contract
    (ES's index.max_terms_count reading); corpus-sized sets take the
    broadcast semi-join path instead."""
    from platypus_ingestion_plugins_spark.serving.query import (
        search,
        terms_lookup,
    )

    d = _t(spark, sf, "documents")
    allow = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 30)
    )
    return search(d, query=terms_lookup("lang", allow, "lang"), top=None).select(
        "doc_id", "lang"
    )


SQL_TERMS_LOOKUP = """
SELECT doc_id, lang FROM documents
WHERE lang IN (SELECT lang FROM documents
               GROUP BY lang HAVING count(*) >= 30)
"""


def q_adjacency_matrix(spark, sf):
    """Adjacency-matrix aggregation (NEW r14, serving/query.
    adjacency_matrix — the ES adjacency_matrix bucket): singleton and
    pairwise-intersection doc counts for three named event filters.
    One scan, per-row matched-name array, one partial-aggregatable
    groupBy(key)."""
    from platypus_ingestion_plugins_spark.serving.query import (
        adjacency_matrix,
    )

    d = _events_ts(spark, sf)
    return adjacency_matrix(
        d,
        {
            "purchase": F.col("event_type") == "purchase",
            "high_value": F.col("value") > 50,
            "night": F.hour("ts") < 6,
        },
    )


SQL_ADJACENCY_MATRIX = """
WITH m AS (
  SELECT coalesce(event_type = 'purchase', FALSE) p,
         coalesce(value > 50, FALSE) h,
         coalesce(hour(ts) < 6, FALSE) n
  FROM events),
k AS (
  SELECT 'high_value' AS key, CAST(count(*) AS BIGINT) cnt FROM m WHERE h
  UNION ALL SELECT 'night', count(*) FROM m WHERE n
  UNION ALL SELECT 'purchase', count(*) FROM m WHERE p
  UNION ALL SELECT 'high_value&night', count(*) FROM m WHERE h AND n
  UNION ALL SELECT 'high_value&purchase', count(*) FROM m WHERE h AND p
  UNION ALL SELECT 'night&purchase', count(*) FROM m WHERE n AND p)
SELECT key, cnt FROM k WHERE cnt > 0
"""


def q_funnel_cascade(spark, sf):
    """Skew-safe funnel (NEW r14, operators/analytics.funnel
    mode='cascade' — the r13 verdict's weak-item fix): the same
    greedy view -> click -> purchase funnel computed as k-1
    user-co-partitioned join+min stages with BOUNDED row width —
    no per-user array ever materializes, so one bot user with
    millions of step events cannot OOM a task. Must hash-match the
    array-mode funnel's oracle exactly."""
    from platypus_ingestion_plugins_spark.operators.analytics import funnel

    return funnel(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        mode="cascade",
    )


def q_preference_pairs(spark, sf):
    """Preference-pair preparation (NEW r13,
    operators/chat.build_preference_pairs — the DPO/RLHF data shape):
    per source-prompt, the longest document pairs as chosen against
    the shortest as rejected under total (score, id) tie-breaks;
    degenerate and zero-margin prompts drop. Two prompt-partitioned
    windows + a row-local filter."""
    from platypus_ingestion_plugins_spark.operators.chat import (
        build_preference_pairs,
    )

    d = _t(spark, sf, "documents").select(
        F.col("source").alias("prompt"),
        F.col("text").alias("completion"),
        F.col("n_chars").alias("score"),
        F.col("doc_id").alias("cid"),
    )
    return build_preference_pairs(d, "prompt", "completion", "score", "cid")


SQL_PREFERENCE_PAIRS = """
WITH b AS (
  SELECT source AS prompt, text AS completion,
         CAST(n_chars AS DOUBLE) AS score, doc_id AS cid
  FROM documents WHERE n_chars IS NOT NULL),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY prompt
                            ORDER BY score DESC, cid) AS rb,
         row_number() OVER (PARTITION BY prompt ORDER BY score, cid) AS rw,
         count(*) OVER (PARTITION BY prompt) AS n
  FROM b),
best AS (SELECT prompt, completion AS chosen, score AS chosen_score,
                cid AS chosen_id, n FROM r WHERE rb = 1),
worst AS (SELECT prompt, completion AS rejected, score AS rejected_score,
                 cid AS rejected_id FROM r WHERE rw = 1)
SELECT prompt, chosen, rejected, chosen_score, rejected_score,
       round(chosen_score - rejected_score, 6) AS margin,
       chosen_id, rejected_id
FROM best JOIN worst USING (prompt)
WHERE n >= 2 AND chosen_id <> rejected_id
  AND chosen_score - rejected_score > 0.0
"""


def q_event_transitions(spark, sf):
    """Markov transition matrix (NEW r13,
    operators/analytics.event_transitions): consecutive event-type
    pairs per user ordered by (ts, event_id) — the tie-break makes
    the matrix engine-exact — with per-from probabilities. One user
    window + one groupBy."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        event_transitions,
    )

    return event_transitions(
        _t(spark, sf, "events"), "user_id", "ts", "event_type", "event_id"
    )


SQL_EVENT_TRANSITIONS = """
WITH o AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events WHERE ts IS NOT NULL),
p AS (
  SELECT from_type, to_type, count(*) AS n FROM o
  WHERE from_type IS NOT NULL GROUP BY 1, 2),
ft AS (SELECT from_type, sum(n) AS fn FROM p GROUP BY 1)
SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
       round(p.n / ft.fn, 6) AS p
FROM p JOIN ft USING (from_type)
"""


def q_ab_test(spark, sf):
    """A/B experiment readout (NEW r13, operators/analytics.ab_test):
    per-variant conversion rates + the pooled two-proportion z-vs-rest
    over a per-user frame (variant derived deterministically from
    user_id parity; conversion = any purchase event). One
    partial-aggregatable groupBy + a 1-row totals broadcast; 6dp
    rounding keeps z engine-exact."""
    from platypus_ingestion_plugins_spark.operators.analytics import ab_test

    ev = _t(spark, sf, "events")
    users = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", True).otherwise(False)).alias("conv")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "conv",
    )
    return ab_test(users, "variant", "conv")


SQL_AB_TEST = """
WITH u AS (
  SELECT user_id, bool_or(event_type = 'purchase') AS conv
  FROM events GROUP BY 1),
v AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant, conv
  FROM u),
per AS (
  SELECT variant, count(*) AS n,
         sum(CASE WHEN coalesce(conv, FALSE) THEN 1 ELSE 0 END) AS conversions
  FROM v GROUP BY 1),
t AS (SELECT sum(n) AS tn, sum(conversions) AS tc FROM per)
SELECT variant, CAST(n AS BIGINT) AS n,
       CAST(conversions AS BIGINT) AS conversions,
       round(conversions / n, 6) AS rate,
       CASE WHEN n > 0 AND (tn - n) > 0 AND tc > 0 AND tc < tn THEN
         round(((conversions / n) - ((tc - conversions) / (tn - n))) /
               sqrt((tc / tn) * (1 - tc / tn) * (1.0 / n + 1.0 / (tn - n))), 6)
       END AS z_vs_rest
FROM per, t
"""


def q_funnel_windowed(spark, sf):
    """Deadline funnel (NEW r13): the funnel with a per-hop
    conversion window — each step must land within 1 hour of the
    user's greedy previous-step time. Same one-shuffle array fold,
    with the deadline folded into the in-window filter; the oracle's
    staged aggregations carry the identical ts BETWEEN bound."""
    from platypus_ingestion_plugins_spark.operators.analytics import funnel

    return funnel(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within=3600,
    )


SQL_FUNNEL_WINDOWED = """
WITH u1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
u2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN u1 USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts >= u1.t1 AND e.ts <= u1.t1 + INTERVAL 3600 SECOND
  GROUP BY 1),
u3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN u2 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts >= u2.t2 AND e.ts <= u2.t2 + INTERVAL 3600 SECOND
  GROUP BY 1),
c AS (SELECT (SELECT count(*) FROM u1) AS n1,
             (SELECT count(*) FROM u2) AS n2,
             (SELECT count(*) FROM u3) AS n3)
SELECT step, step_idx, n_users,
       CASE WHEN n1 > 0 THEN round(n_users / n1, 6) END AS pct_of_first
FROM c, (
  SELECT 'view' AS step, CAST(1 AS INT) AS step_idx,
         (SELECT n1 FROM c) AS n_users
  UNION ALL
  SELECT 'click', CAST(2 AS INT), (SELECT n2 FROM c)
  UNION ALL
  SELECT 'purchase', CAST(3 AS INT), (SELECT n3 FROM c))
"""


def q_retention(spark, sf):
    """Cohort retention (NEW r13, operators/analytics.cohort_retention):
    users cohort by first-seen week, cells count distinct weekly
    actives at each offset, retention anchored at offset 0. Two
    partial-aggregatable aggregations + one user join; the result is
    period-grid-sized."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        cohort_retention,
    )

    return cohort_retention(
        _t(spark, sf, "events"), "user_id", "ts", "week"
    ).withColumn("cohort", F.col("cohort").cast("string"))


SQL_RETENTION = """
WITH ev AS (
  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS p
  FROM events WHERE ts IS NOT NULL),
f AS (SELECT u, min(p) AS cohort FROM ev GROUP BY 1),
a AS (SELECT DISTINCT u, p FROM ev),
cells AS (
  SELECT cohort, CAST((p - cohort) / 7 AS INT) AS "offset",
         count(*) AS n_users
  FROM a JOIN f USING (u) GROUP BY 1, 2),
b AS (SELECT cohort, n_users AS base FROM cells WHERE "offset" = 0)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort, "offset", n_users,
       round(n_users / base, 6) AS retention_pct
FROM cells JOIN b USING (cohort)
"""


def q_key_skew(spark, sf):
    """Key-skew diagnostic (NEW r13, operators/profile.key_skew_report):
    the one-row shuffle-planning report for events.user_id — heaviest
    key + share, per-key count percentiles, Gini. Everything after the
    per-key groupBy runs on the (count, n_keys) frequency table
    (bounded by distinct count VALUES, not keys), with exact
    block-rank arithmetic for the Gini numerator; the oracle computes
    the naive ranked sum over all keys — two algorithms
    cross-validated."""
    from platypus_ingestion_plugins_spark.operators.profile import (
        key_skew_report,
    )

    return key_skew_report(_t(spark, sf, "events"), "user_id")


SQL_KEY_SKEW = """
WITH c AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
s AS (SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_cnt,
             quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
      FROM c),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt) AS rn FROM c),
g AS (SELECT sum(rn * cnt) AS srn, sum(cnt) AS t, count(*) AS n FROM r),
tk AS (SELECT CAST(k AS VARCHAR) AS top_key FROM c
       ORDER BY cnt DESC, k LIMIT 1)
SELECT CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.n_keys AS BIGINT) AS n_keys,
       CAST(s.max_cnt AS BIGINT) AS max_cnt,
       tk.top_key,
       round(s.max_cnt / s.n_rows, 6) AS top_pct,
       round(s.p50, 6) AS p50_cnt,
       round(s.p99, 6) AS p99_cnt,
       round((2.0 * g.srn - (g.n + 1) * g.t) / (g.n * g.t), 6) AS gini
FROM s, g, tk
"""


def q_index_stats(spark, sf):
    """Index health report (NEW r13, text_index.term_index_stats —
    CheckIndex parity): dictionary size, reader-visible posting
    count, live docs, waiting tombstones over the shared flat index.
    The oracle recomputes every number from the corpus text — the
    index's contents cross-validated against what a rebuild would
    contain."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.term_index_stats(spark, idx)


SQL_INDEX_STATS = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents)
SELECT CAST(32 AS INT) AS buckets, FALSE AS positional,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_deleted
FROM toks
"""


def q_bool_indexed(spark, sf):
    """Indexed BooleanQuery (NEW r13, text_index.search_bool_indexed):
    must=[scan], should=[merge, join, sort] (Lucene default msm=0
    with must present — shoulds become the rank signal), must_not=
    [dup] — ONE pruned posting read over the union of clause buckets
    + ONE aggregation. The oracle replays the scan-path bool
    semantics over analyzed tokens; must_not-as-absence equals the
    scan path's NULL-keeping negation (no postings = no match)."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.search_bool_indexed(
        spark,
        idx,
        must=["scan"],
        should=["merge", "join", "sort"],
        must_not=["dup"],
    )


SQL_BOOL_INDEXED = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS ts
  FROM documents)
SELECT doc_id,
       CAST(len(list_intersect(ts, ['merge', 'join', 'sort'])) AS INT)
         AS should_matched
FROM toks
WHERE list_has_all(ts, ['scan'])
  AND NOT list_has_any(ts, ['dup'])
"""


def q_mlt_indexed(spark, sf):
    """Indexed MoreLikeThis (NEW r13,
    text_index.more_like_this_indexed — Lucene MLT.like(text)): the
    probe text analyzes locally (query-sized tf, no term-vector
    store needed), df + candidates come from ONE pruned posting read
    over the probe terms' buckets, N from the slim _doclens table —
    corpus text never touched. Same selection/ranking math as the
    scan path's more_like_this; the oracle replays the corpus-side
    definition, cross-validating the index path."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=True)
    return TI.more_like_this_indexed(
        spark, idx, "spark scan scan table join", max_query_terms=5, top=10
    )


SQL_MLT_INDEXED = """
WITH qt AS (
  SELECT t AS term, count(*) AS qtf FROM (
    SELECT unnest(list_filter(
        string_split_regex(lower('spark scan scan table join'), '\\W+'),
        x -> x <> '')) AS t) GROUP BY 1),
toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents),
dfc AS (SELECT term, count(*) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
sel AS (
  SELECT qt.term, qt.qtf * ln((n.n + 1) / (dfc.df + 1)) AS weight
  FROM qt JOIN dfc USING (term), n
  ORDER BY weight DESC, term LIMIT 5)
SELECT toks.doc_id, round(sum(sel.weight), 6) AS mlt_score
FROM toks JOIN sel USING (term)
GROUP BY 1 ORDER BY mlt_score DESC, doc_id LIMIT 10
"""


def q_stream_term_index(spark, sf):
    """Streaming inverted-index maintenance: documents stream in two
    drops, each micro-batch APPENDS its posting lists to the
    bucket-partitioned term index (serving/text_index.build_term_index
    mode=append — an ingest batch touches only its own terms'
    buckets), and the post-stream indexed search must equal the
    one-shot full-corpus answer — posting membership is append-order
    and batch-split independent, and the readers' distinct collapses
    any replayed appends."""
    import shutil

    from platypus_ingestion_plugins_spark.serving import text_index as TI

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    lo, hi = _median_split(docs, "doc_id")
    work = _stream_scratch("stream_tidx_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        idx = os.path.join(work, "idx")
        ckpt = os.path.join(work, "ckpt")

        def handle(batch_df, _bid):
            TI.build_term_index(
                batch_df, "text", "doc_id", idx, buckets=32, mode="append"
            )

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(handle)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        out = TI.search_terms_indexed(
            spark, idx, ["join", "scan", "merge"], id_col="doc_id"
        )
        _keep_until_exit(work, keep=idx)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_term_index_lifecycle(spark, sf):
    """Full index lifecycle (serving/text_index): build -> tombstone
    deletes (Lucene's logical-delete model — the `_deletes` side
    table anti-joins out of every read, no bucket rewrite) ->
    physical compaction (staged-swap rewrite applying tombstones,
    distinct posting fold) -> indexed search. The oracle is the
    full-scan replay excluding the deleted docs, so both the delete
    semantics and the compaction's pure-storage-change contract are
    value-checked end to end."""
    import shutil

    from platypus_ingestion_plugins_spark.serving import text_index as TI

    d = _t(spark, sf, "documents")
    work = _stream_scratch("tidx_life_")
    try:
        idx = os.path.join(work, "idx")
        TI.build_term_index(d, "text", "doc_id", idx, buckets=32)
        TI.delete_docs(
            spark, idx, d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        )
        TI.compact_term_index(spark, idx)
        out = TI.search_terms_indexed(
            spark, idx, ["join", "scan", "merge"], id_col="doc_id"
        )
        _keep_until_exit(work, keep=idx)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_TERM_INDEX_LIFECYCLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents WHERE doc_id % 7 <> 0)
SELECT doc_id, CAST(count(*) AS INT) AS n_matched
FROM toks WHERE term IN ('join', 'scan', 'merge')
GROUP BY doc_id
"""


def q_indexed_phrase_search(spark, sf):
    """PhraseQuery from positional postings (serving/text_index.
    search_phrase_indexed): the shared positional index stores one
    posting per token occurrence with its position (Lucene's
    positions model), the pruned read touches only the phrase terms'
    buckets, and adjacency is a codegen exists-walk over per-(doc,
    term) sorted position arrays. The oracle replays the SCAN path's
    match_phrase semantics (sentinel-padded token join + contains),
    cross-validating two different algorithms."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=True)
    return TI.search_phrase_indexed(spark, idx, "table scan")


SQL_INDEXED_PHRASE_SEARCH = """
SELECT doc_id FROM documents
WHERE contains(
  ' ' || array_to_string(list_filter(
      string_split_regex(lower(text), '\\W+'), x -> x <> ''), ' ') || ' ',
  ' table scan ')
"""


def q_phrase_slop(spark, sf):
    """PhraseQuery with slop (NEW r14, serving/text_index.
    search_phrase_indexed(slop=2) — Lucene PhraseQuery(slop) in its
    in-order reading / SpanNearQuery(inOrder=true)): 'table scan'
    where scan follows table within a 4-position window. The greedy
    position chain folds as codegen array expressions over the pruned
    positional postings; the oracle joins the tokenized positions
    pairwise — two different algorithms, same ids."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=True)
    return TI.search_phrase_indexed(spark, idx, "table scan", slop=2)


SQL_PHRASE_SLOP = """
WITH toked AS (
  SELECT doc_id, list_filter(
      string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM toked)
SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
WHERE a.tok = 'table' AND b.tok = 'scan'
  AND b.pos > a.pos AND b.pos <= a.pos + 3
"""


def q_span_near(spark, sf):
    """Unordered span-near (NEW r14, serving/text_index.
    search_span_near(in_order=False) — Lucene SpanNearQuery): docs
    where 'spark' and 'vector' occur within a 5-position window in
    either order. Codegen exists-over-positions per clause (never a
    postings self-join); the oracle is the pairwise |Δpos| join."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=True)
    return TI.search_span_near(
        spark, idx, ["spark", "vector"], slop=3, in_order=False
    )


SQL_SPAN_NEAR = """
WITH toked AS (
  SELECT doc_id, list_filter(
      string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM toked)
SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
WHERE a.tok = 'spark' AND b.tok = 'vector' AND abs(a.pos - b.pos) <= 4
"""


def q_indexed_bm25(spark, sf):
    """BM25 from the index (serving/text_index.bm25_indexed — the
    actual Lucene ranking path: tf/df from the shared positional
    postings, length norms from the _doclens side table) with the
    exact scan-path formula and rounding. Same query terms as
    fulltext_bm25, so the oracle is the same SQL — three
    implementations (scan DataFrame, index DataFrame, DuckDB SQL)
    agreeing on every score."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=True)
    return TI.bm25_indexed(spark, idx, "data engine spark vector")


def q_hybrid_indexed(spark, sf):
    """Hybrid retrieval with BOTH legs answered from index structures
    (the serving-stack shape at scale): BM25 from the shared
    positional postings + doclens (bm25_indexed — query cost tracks
    terms), sign-bucket ANN for the vector leg (ann_topk — bucket
    filter, no full-corpus rank), fused by integer RRF. Complements
    hybrid_search, whose legs are the full-scan scorers; the oracle
    replays bucket filter, BM25, and the floor(1e9/(60+rank)) points
    exactly."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=True)
    bm = TI.bm25_indexed(spark, idx, "data engine spark vector")
    vec = similarity.ann_topk(
        _t(spark, sf, "embeddings"),
        _t(spark, sf, "embeddings").filter(F.col("vec_id") == 0),
        k=50,
        dim=64,
    ).withColumnRenamed("vec_id", "doc_id")
    return SQ.rrf_fuse(
        {"lex": bm, "vec": vec}, "doc_id", k_candidates=50, rrf_k=60, top=20
    )


SQL_HYBRID_INDEXED = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM toked),
hits AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toked),
qh AS (SELECT * FROM hits WHERE tok IN ('data','engine','spark','vector')),
tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl FROM qh GROUP BY 1, 2),
dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM qh GROUP BY tok),
bm AS (
  SELECT doc_id,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS bm25
  FROM tf JOIN dft USING (tok), stats
  GROUP BY doc_id),
bm_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM bm QUALIFY rank <= 50),
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
cos AS (
  SELECT b.vec_id AS doc_id,
         round(list_cosine_similarity(b.v, q.qv), 6) AS cs
  FROM b, q WHERE b.bucket = q.qb),
cos_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS rank
  FROM cos QUALIFY rank <= 50),
u AS (SELECT * FROM bm_rank UNION ALL SELECT * FROM cos_rank)
SELECT doc_id,
       CAST(sum(CAST(floor(1000000000 / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf,
       count(*) AS n_systems
FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
"""


def q_constraint_report(spark, sf):
    """Data-quality constraint report (operators/validate.
    check_constraints — the batch-promotion guardrail): null / range /
    domain / uniqueness checks fold into ONE partial-aggregatable
    aggregate over one orders scan; each referential check is one
    broadcast anti-join count. The even-keys dimension variant is
    deliberately violated so the FK counting path is value-exercised,
    not just zero-checked."""
    from platypus_ingestion_plugins_spark.operators import validate as V

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    checks = [
        V.not_null("orders_custkey_not_null", "o_custkey"),
        V.in_range("orders_price_range", "o_totalprice", lo=0, hi=300000),
        V.accepted_values("orders_status_domain", "o_orderstatus", ["O", "F"]),
        V.unique("orders_key_unique", "o_orderkey"),
        V.references("orders_custkey_fk", "o_custkey", c, "c_custkey"),
        V.references(
            "orders_custkey_in_even_dim",
            "o_custkey",
            c.filter(F.col("c_custkey") % 2 == 0),
            "c_custkey",
        ),
    ]
    return V.check_constraints(o, checks)


SQL_CONSTRAINT_REPORT = """
WITH n AS (SELECT count(*) AS n_rows FROM orders),
v AS (
  SELECT 'orders_custkey_fk' AS chk,
         (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS violations
  UNION ALL
  SELECT 'orders_custkey_in_even_dim',
         (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN
                (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0))
  UNION ALL
  SELECT 'orders_custkey_not_null',
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
  UNION ALL
  SELECT 'orders_key_unique',
         (SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders)
  UNION ALL
  SELECT 'orders_price_range',
         (SELECT count(*) FROM orders
          WHERE o_totalprice < 0 OR o_totalprice > 300000)
  UNION ALL
  SELECT 'orders_status_domain',
         (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F')))
SELECT chk AS "check", CAST(violations AS BIGINT) AS violations,
       (SELECT n_rows FROM n) AS n_rows, violations = 0 AS passed
FROM v
"""


def q_cc_scrub(spark, sf):
    """Luhn-validated card scrubbing (functions/pii.cc_count /
    redact_cc): card-shaped spans are checksum-gated — valid test
    numbers redact, an equally card-shaped but checksum-failing run
    does not — all pure codegen (the checksum isn't regular, so the
    valid candidate list folds over the text with literal replace).
    The corpus is salted deterministically with one of three suffixes
    by doc_id so both branches and the no-separator form are
    value-exercised."""
    from platypus_ingestion_plugins_spark.functions import pii

    d = _t(spark, sf, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit(" "),
        F.when(F.col("doc_id") % 3 == 0, F.lit("4539 1488 0343 6467"))
        .when(F.col("doc_id") % 3 == 1, F.lit("1234-5678-9012-3456"))
        .otherwise(F.lit("pay 4111111111111111 now")),
    )
    return d.select(
        "doc_id",
        pii.cc_count(txt).cast("int").alias("n_cc"),
        pii.redact_cc(txt).alias("scrubbed"),
    )


_SQL_LUHN_DIGIT = (
    "ascii(substr(reverse(regexp_replace(s, '[^0-9]', '', 'g')), i, 1)) - 48"
)
SQL_CC_SCRUB = f"""
WITH t AS (
  SELECT doc_id,
         text || ' ' || CASE
           WHEN doc_id % 3 = 0 THEN '4539 1488 0343 6467'
           WHEN doc_id % 3 = 1 THEN '1234-5678-9012-3456'
           ELSE 'pay 4111111111111111 now' END AS txt
  FROM documents),
v AS (
  SELECT doc_id, txt,
         list_filter(
           regexp_extract_all(txt, '[0-9]{{4}}(?:[- ]?[0-9]{{4}}){{3}}'),
           s -> length(regexp_replace(s, '[^0-9]', '', 'g')) = 16
            AND list_sum(list_transform(generate_series(1, 16), i ->
                  CASE WHEN (i - 1) % 2 = 1 THEN
                    CASE WHEN ({_SQL_LUHN_DIGIT}) * 2 > 9
                         THEN ({_SQL_LUHN_DIGIT}) * 2 - 9
                         ELSE ({_SQL_LUHN_DIGIT}) * 2 END
                  ELSE ({_SQL_LUHN_DIGIT}) END)) % 10 = 0
         ) AS valid
  FROM t)
SELECT doc_id, CAST(len(valid) AS INT) AS n_cc,
       list_reduce(list_prepend(txt, valid),
                   (acc, s) -> replace(acc, s, '<CC>')) AS scrubbed
FROM v
"""


def q_stream_constraints(spark, sf):
    """Streaming constraint monitoring (operators/validate.
    constraint_monitor): orders stream in two drops through a
    checkpointed foreachBatch that lands a per-epoch constraint
    report (per-epoch dir + overwrite — replay-idempotent, the DLQ
    discipline); the summed row-local reports must equal the
    whole-corpus counts exactly (each row's null/range/domain verdict
    is batch-independent), which is what makes the guardrail
    trustworthy under any batch split."""
    import shutil

    from platypus_ingestion_plugins_spark.operators import validate as V

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    lo, hi = _median_split(o, "o_orderkey")
    checks = [
        V.not_null("custkey_not_null", "o_custkey"),
        V.in_range("price_range", "o_totalprice", lo=0, hi=300000),
        V.accepted_values("status_domain", "o_orderstatus", ["O", "F"]),
    ]
    work = _stream_scratch("stream_constraints_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        rep = os.path.join(work, "reports")
        ckpt = os.path.join(work, "ckpt")

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(V.constraint_monitor(checks, rep))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        out = (
            V.read_reports(spark, rep)
            .groupBy("check")
            .agg(
                F.sum("violations").alias("violations"),
                F.sum("n_rows").alias("n_rows"),
            )
        )
        _keep_until_exit(work, keep=rep)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_CONSTRAINTS = """
WITH v AS (
  SELECT 'custkey_not_null' AS "check",
         (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
  UNION ALL
  SELECT 'price_range',
         (SELECT count(*) FROM orders
          WHERE o_totalprice < 0 OR o_totalprice > 300000)
  UNION ALL
  SELECT 'status_domain',
         (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F')))
SELECT "check", CAST(violations AS BIGINT) AS violations,
       (SELECT count(*) FROM orders) AS n_rows
FROM v
"""


def q_search_after(spark, sf):
    """Cursor pagination (serving/query.search_after — Lucene's
    searchAfter): page 2 of the (value desc, event_id) ranking fetched
    by feeding back page 1's last (value, event_id) cursor — one
    filtered TakeOrdered whose cost is cursor-depth independent, where
    offset pagination pays limit(S+k). The boundary row is a bounded
    1-row collect; the oracle recomputes it with a window and pages
    identically (exact parquet doubles tie-break identically on both
    engines)."""
    ev = _t(spark, sf, "events")
    page1 = (
        ev.orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(10)
        .collect()
    )
    last = page1[-1]
    return SQ.search_after(
        ev,
        10,
        "value",
        float(last["value"]),
        int(last["event_id"]),
        "event_id",
        descending=True,
    ).select("event_id", "value")


SQL_SEARCH_AFTER = """
WITH ranked AS (
  SELECT event_id, value,
         row_number() OVER (ORDER BY value DESC, event_id) AS rn
  FROM events)
SELECT event_id, value FROM ranked WHERE rn > 10 AND rn <= 20
"""


def q_bpe_train(spark, sf):
    """Distributed BPE TRAINING (functions/bpe.bpe_train — NEW r13):
    the Sennrich trainer re-expressed Spark-first. One corpus scan
    builds the distinct-word histogram (the only corpus-sized stage);
    each merge round runs on the zipf-bounded vocab only — pair-count
    groupBy, 1-row argmax collect (driver-bounded by construction),
    and a pure-codegen replace over the same fully-wrapped STX·sym·ETX
    representation the bpe_token_count oracle replay uses (adjacent
    matches share no characters, so leftmost non-overlapping replace
    IS the greedy merge pass). The oracle replays all 8 training
    rounds in SQL: per round a pair-count CTE, a deterministic argmax
    (count desc, then lexicographically greatest pair — equal to
    Python tuple-max), and the same replace. Unit test pins
    bpe_train == learn_bpe on adversarial ASCII (ties, overlapping
    'aaaa' runs, multi-doc frequency aggregation)."""
    from platypus_ingestion_plugins_spark.functions.bpe import bpe_train

    d = _t(spark, sf, "documents")
    merges = bpe_train(d, "text", 8)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, lhs string, rhs string",
    )


def q_chunk_tokens(spark, sf):
    """Token-budgeted RAG chunking (NEW r13,
    functions/bpe.chunk_text_tokens): 32-token windows with 8 tokens
    of overlap under the FROZEN merge table — the retrieval-chunking
    contract embedding models actually have. One Arrow-batched encode
    + codegen windowing; trailing windows fully contained in their
    predecessor are suppressed (the standard splitter stop rule). The
    oracle rebuilds each document's token stream with the shared
    replace-chain word replay and slices the same windows in SQL."""
    from platypus_ingestion_plugins_spark.functions.bpe import (
        chunk_text_tokens,
        load_merges_txt,
    )

    d = _t(spark, sf, "documents")
    merges = load_merges_txt(_BPE_FROZEN)
    return chunk_text_tokens(
        d, "text", "doc_id", merges, max_tokens=32, overlap=8
    )


def _chunk_tokens_oracle_sql() -> str:
    rep = _bpe_word_rep_sql("w")
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_extract_all(coalesce(text, ''), '\\w+|[^\\w\\s]') AS ws
  FROM documents),
toksd AS (
  SELECT doc_id,
         flatten(list_transform(ws, w ->
           list_transform(
             list_filter(string_split({rep}, chr(3)), x -> x <> ''),
             x -> x[2:])
         )) AS toks
  FROM d),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM toksd WHERE len(toks) > 0),
wins AS (
  SELECT doc_id,
         unnest(list_transform(
           list_filter(generate_series(1, n, 24),
                       s -> s = 1 OR s <= n - 8),
           s -> struct_pack(chunk_id := CAST((s - 1) // 24 AS INT),
                            toks := toks[s : s + 31]))) AS c
  FROM nz)
SELECT doc_id, c.chunk_id AS chunk_id,
       CAST(len(c.toks) AS BIGINT) AS n_tokens,
       rtrim(replace(array_to_string(c.toks, ''), '</w>', ' ')) AS chunk
FROM wins
"""


def _bpe_train_oracle_sql(n_merges: int = 8) -> str:
    """The 8-round training replay: v0 = distinct-word histogram in
    the wrapped representation; round i derives pair counts from
    v{i-1} (list_zip of adjacent tokens), picks the argmax merge
    m{i}, and applies it with the boundary-safe replace to form
    v{i}. Exhaustion degrades identically on both engines (an empty
    m{i} empties every later stage and the union skips those
    ranks)."""
    stages = []
    for i in range(1, n_merges + 1):
        p = i - 1
        stages.append(f"""
t{i} AS (
  SELECT freq,
         list_transform(list_filter(string_split(rep, chr(3)), x -> x <> ''),
                        x -> x[2:]) AS toks
  FROM v{p}),
p{i} AS (
  SELECT u.pr[1] AS a, u.pr[2] AS b, sum(freq) AS c
  FROM t{i}, unnest(list_zip(toks, toks[2:])) AS u(pr)
  WHERE u.pr[2] IS NOT NULL
  GROUP BY 1, 2),
m{i} AS (SELECT a, b FROM p{i} ORDER BY c DESC, a DESC, b DESC LIMIT 1),
v{i} AS (
  SELECT replace(rep, chr(2) || m.a || chr(3) || chr(2) || m.b || chr(3),
                 chr(2) || m.a || m.b || chr(3)) AS rep, freq
  FROM v{p}, m{i} AS m)""")
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, a AS lhs, b AS rhs FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(
           replace(replace(coalesce(text, ''), chr(2), ''), chr(3), ''),
           '\\w+|[^\\w\\s]')) AS w
  FROM documents),
v0 AS (
  SELECT array_to_string(list_transform(string_split(w, ''),
                                        c -> chr(2) || c || chr(3)), '')
         || chr(2) || '</w>' || chr(3) AS rep,
         count(*) AS freq
  FROM words GROUP BY w),{','.join(stages)}
{unions}
ORDER BY rank
"""


def q_script_detect(spark, sf):
    """Writing-system detection (functions/text.script_counts /
    dominant_script): per-script character counts by Unicode BMP range
    + strictly-greater argmax — works where the stopword language_id
    is blind (no word boundaries). The corpus is ASCII, so docs are
    deterministically transliterated by doc_id%4 (full-alphabet
    Cyrillic / Greek maps, vowel-only Devanagari so latin stays
    dominant there) — translate() is engine-identical, and both
    engines count BMP chars the same."""
    d = _t(spark, sf, "documents")
    abc = "abcdefghijklmnopqrstuvwxyz"
    cyr = "абвгдежзийклмнопрстуфхцчшщ"
    grk = "αβγδεζηθικλμνξοπρστυφχψωϊϋ"
    dev = "अएइओउ"
    txt = (
        F.when(F.col("doc_id") % 4 == 1, F.translate(F.col("text"), abc, cyr))
        .when(F.col("doc_id") % 4 == 2, F.translate(F.col("text"), abc, grk))
        .when(F.col("doc_id") % 4 == 3, F.translate(F.col("text"), "aeiou", dev))
        .otherwise(F.col("text"))
    )
    base = d.select("doc_id", txt.alias("t"))
    sc = TX.script_counts("t")
    return base.select(
        "doc_id",
        *sc.values(),
        TX.dominant_script("t", sc).alias("script"),
    )


SQL_SCRIPT_DETECT = """
WITH t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 1
           THEN translate(text, 'abcdefghijklmnopqrstuvwxyz',
                          'абвгдежзийклмнопрстуфхцчшщ')
         WHEN doc_id % 4 = 2
           THEN translate(text, 'abcdefghijklmnopqrstuvwxyz',
                          'αβγδεζηθικλμνξοπρστυφχψωϊϋ')
         WHEN doc_id % 4 = 3
           THEN translate(text, 'aeiou', 'अएइओउ')
         ELSE text END AS t
  FROM documents),
c AS (
  SELECT doc_id,
    CAST(length(regexp_replace(t, '[^\\x{0400}-\\x{04FF}]', '', 'g')) AS INT)
      AS cyrillic,
    CAST(length(regexp_replace(t, '[^\\x{0900}-\\x{097F}]', '', 'g')) AS INT)
      AS devanagari,
    CAST(length(regexp_replace(t, '[^\\x{0370}-\\x{03FF}]', '', 'g')) AS INT)
      AS greek,
    CAST(length(regexp_replace(t,
         '[^A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}\\x{00F8}-\\x{024F}]',
         '', 'g')) AS INT)
      AS latin,
    CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS INT) AS digit
  FROM t)
SELECT doc_id, cyrillic, devanagari, greek, latin, digit,
  CASE WHEN greatest(cyrillic, devanagari, greek, latin) = 0 THEN 'und'
       WHEN cyrillic = greatest(cyrillic, devanagari, greek, latin)
         THEN 'cyrillic'
       WHEN devanagari = greatest(cyrillic, devanagari, greek, latin)
         THEN 'devanagari'
       WHEN greek = greatest(cyrillic, devanagari, greek, latin) THEN 'greek'
       ELSE 'latin' END AS script
FROM c
"""


def q_bm25_prf(spark, sf):
    """BM25 with pseudo-relevance feedback (serving/query.bm25_prf):
    top-10 docs of the original query donate their 5 most frequent
    new terms (len >= 3), and the corpus is rescored under the
    expanded set — deterministic feedback selection both engines
    replay exactly."""
    d = _t(spark, sf, "documents")
    return SQ.bm25_prf(
        d, "text", "spark vector data engine", "doc_id",
        fb_docs=10, fb_terms=5,
    )


SQL_BM25_PRF = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM toked),
hits AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toked),
qh0 AS (SELECT * FROM hits WHERE tok IN ('data','engine','spark','vector')),
tf0 AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl FROM qh0 GROUP BY 1, 2),
dft0 AS (SELECT tok, count(DISTINCT doc_id) AS df FROM qh0 GROUP BY tok),
bm0 AS (
  SELECT doc_id,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS bm25
  FROM tf0 JOIN dft0 USING (tok), stats GROUP BY doc_id),
fbdocs AS (SELECT doc_id FROM bm0 ORDER BY bm25 DESC, doc_id LIMIT 10),
fbterms AS (
  SELECT tok FROM (
    SELECT h.tok, count(*) AS c
    FROM hits h JOIN fbdocs USING (doc_id)
    WHERE length(h.tok) >= 3
      AND h.tok NOT IN ('data','engine','spark','vector')
    GROUP BY h.tok)
  ORDER BY c DESC, tok LIMIT 5),
expset AS (
  SELECT tok FROM fbterms
  UNION
  SELECT unnest(['data','engine','spark','vector']) AS tok),
qh AS (SELECT * FROM hits WHERE tok IN (SELECT tok FROM expset)),
tf AS (SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl FROM qh GROUP BY 1, 2),
dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM qh GROUP BY tok)
SELECT doc_id,
       round(sum(
         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       ), 6) AS bm25
FROM tf JOIN dft USING (tok), stats
GROUP BY doc_id
"""


def q_fulltext_phrase(spark, sf):
    """PhraseQuery parity: token-exact contiguous in-order match
    (serving/query.py:match_phrase) — sentinel-padded re-join keeps it
    codegen string ops, no positions index."""
    d = _t(spark, sf, "documents")
    return d.filter(SQ.match_phrase("text", "table scan")).select("doc_id")


SQL_FULLTEXT_PHRASE = """
SELECT doc_id FROM documents
WHERE contains(
  ' ' || array_to_string(
           list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''),
           ' ') || ' ',
  ' table scan ')
"""


def q_term_prefix(spark, sf):
    """PrefixQuery parity: some analyzed token starts with the prefix
    (serving/query.py:match_prefix)."""
    d = _t(spark, sf, "documents")
    return d.filter(SQ.match_prefix("text", "vec")).select("doc_id")


SQL_TERM_PREFIX = """
SELECT doc_id FROM documents
WHERE len(list_filter(
        list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''),
        x -> starts_with(x, 'vec'))) > 0
"""


def q_hit_count(spark, sf):
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_hits"))


SQL_HIT_COUNT = "SELECT lang, count(*) AS n_hits FROM documents GROUP BY lang"


def q_term_in_set(spark, sf):
    d = _t(spark, sf, "documents")
    return SQ.search(d, SQ.term_in_set("doc_id", [1, 2, 3, 5, 8, 13, 21, 34]),
                     fields=["doc_id", "lang"])


SQL_TERM_IN_SET = "SELECT doc_id, lang FROM documents WHERE doc_id IN (1,2,3,5,8,13,21,34)"


def q_multivalued_contains(spark, sf):
    """Q8: multi-valued field (token array) + membership + cardinality."""
    d = _t(spark, sf, "documents")
    toks = SQ.tokenize("text")
    return (
        d.withColumn("tags", toks)
        .filter(F.array_contains("tags", "vector"))
        .select("doc_id", F.size("tags").alias("n_tags"))
    )


SQL_MULTIVALUED_CONTAINS = """
WITH t AS (SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS tags
  FROM documents)
SELECT doc_id, len(tags) AS n_tags FROM t WHERE list_contains(tags, 'vector')
"""


# --------------------------------------------------------------------------
# Relational surface (SURVEY §2.6 — Spark built-ins, oracle-validated)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), 2, "sum_base_price"),
            _dec_sum(disc_price, 6, "sum_disc_price"),
            _dec_sum(charge, 8, "sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(30,2)")).cast("double")
             / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(F.col("l_discount").cast("decimal(30,2)")).cast("double")
             / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(30,8))) AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_segment_revenue(spark, sf):
    """Broadcast dim join: revenue by market segment."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), 2, "revenue"),
        )
    )


SQL_JOIN_SEGMENT_REVENUE = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_event_gaps(spark, sf):
    """lead/lag window surface: per-user inter-event gap stats over
    event time (ns long — exact integer arithmetic, no float drift).
    One hash shuffle on user_id; the per-key sort is the window's
    local spill-able sort, not a global order."""
    ev = _t(spark, sf, "events")
    # µs precision on both sides, for either physical type the driver
    # generates: raw ns long (TIMESTAMP(NANOS) under nanosAsLong) or a
    # µs TIMESTAMP_NTZ; DuckDB's epoch_us(ts) matches both exactly
    if dict(ev.dtypes).get("ts") == "bigint":
        us = F.expr("ts DIV 1000")
    else:
        us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.select(
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("sum_gap_us"),
    )


SQL_EVENT_GAPS = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events)
SELECT user_id, count(*) AS n_gaps,
       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


def q_sliding_counts(spark, sf):
    """Sliding event-time windows (1 h length, 30 min slide): every
    event lands in exactly length/slide = 2 windows; Catalyst expands
    the window() to that 2-row explode then one hash agg — no
    self-join. Epoch-aligned starts, exact integer arithmetic."""
    ev = _t(spark, sf, "events")
    if dict(ev.dtypes).get("ts") == "bigint":
        sec = F.expr("ts DIV 1000000000")
    else:
        sec = F.col("ts").cast("timestamp").cast("long")
    win = F.window(F.timestamp_seconds(sec), "1 hour", "30 minutes")
    return (
        ev.select(win.alias("w"))
        .groupBy(F.col("w.start").cast("long").alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SQL_SLIDING_COUNTS = """
WITH e AS (
  SELECT epoch_ns(ts) // 1000000000 AS s FROM events),
w AS (
  SELECT unnest([s - (s % 1800) - 1800, s - (s % 1800)]) AS win_start
  FROM e)
SELECT win_start, count(*) AS n_events FROM w GROUP BY win_start
"""


def q_cube_agg(spark, sf):
    """CUBE over (returnflag, linestatus): all 4 grouping combinations
    in one pass (Catalyst expands to a single Expand + hash agg — one
    shuffle, not 4 scans). NULL grouping markers surfaced as 'ALL'
    so the oracle compare is unambiguous with real NULLs."""
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


SQL_CUBE_AGG = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_percentiles(spark, sf):
    """Exact grouped percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, both (n-1)q linear interpolation — verified equal
    on integral and continuous columns). Exact is the oracle-checkable
    form; at 100 TB swap in `approx_percentile` (t-digest sketch,
    mergeable partial aggs, no per-group sort) — same call shape."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("qty_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("price_p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("price_p95"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS price_p95
FROM lineitem GROUP BY l_returnflag
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_event_counts(spark, sf):
    """Pivot (wide conditional aggregation): per-user event counts by
    type plus summed purchase value. Pivot values are DECLARED, not
    discovered — at 100 TB the values-unknown form costs an extra
    distinct scan before planning; the declared form is one hash agg."""
    ev = _t(spark, sf, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [*EVENT_TYPES])
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(_dec_sum(F.col("value"), 6, "purchase_value"))
    )
    return (
        piv.join(spend, "user_id", "left")
        .select(
            "user_id",
            F.col("click").alias("n_click"),
            F.col("error").alias("n_error"),
            F.col("purchase").alias("n_purchase"),
            F.col("signup").alias("n_signup"),
            F.col("view").alias("n_view"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


SQL_PIVOT_EVENT_COUNTS = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'error')    AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup')   AS n_signup,
       count(*) FILTER (event_type = 'view')     AS n_view,
       coalesce(CAST(sum(CAST(value AS DECIMAL(30,6)))
                     FILTER (event_type = 'purchase') AS DOUBLE), 0.0)
         AS purchase_value
FROM events GROUP BY user_id
"""


def q_tpch_q6ish(spark, sf):
    """Q6 shape: tight predicate + single agg — every filter reaches
    the parquet scan (PushedFilters), the agg is one partial+final
    hash agg with no data movement beyond the partials."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 6, "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_TPCH_Q6ISH = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q3ish(spark, sf):
    """Q3 shape: selective dim filters -> 3-way join -> grouped revenue
    -> global top 10 (TakeOrdered, no full sort)."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6, "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3ISH = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_salted_join_agg(spark, sf):
    """Skew-safe salted join (operators/skew.py): lineitem x supplier on
    suppkey with a hot-key threshold low enough that every supplier
    takes the salted path — scattered across 4 salts on the big side,
    replicated 4x on the small side. Oracle asserts the result is
    row-for-row the plain equi-join: salting must never change
    semantics, only task balance."""
    from platypus_ingestion_plugins_spark.operators.skew import salted_join

    # project BEFORE salting: the salt is a content hash of the big
    # side's row, so an unprojected frame would read every column
    li = _t(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li, s, "l_suppkey", salts=4, hot_threshold=50)
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
    )


SQL_SALTED_JOIN_AGG = """
SELECT s_nationkey, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def q_tpch_q5ish(spark, sf):
    """Multi-way join: revenue per nation in ASIA (Q5 shape: region ->
    nation -> customer -> orders -> lineitem -> supplier co-located)."""
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(disc_price, 6, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


SQL_TPCH_Q5ISH = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_window_topk_per_group(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


SQL_WINDOW_TOPK_PER_GROUP = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders)
SELECT o_custkey, o_orderkey, rnk FROM r WHERE rnk <= 3
"""


def q_agg_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
    )


SQL_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_anti_join(spark, sf):
    """Customers with no orders (the delete-set anti-join shape, S6)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_semi_join(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 9000)
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_acctbal")


SQL_SEMI_JOIN = """
SELECT c_custkey, c_acctbal FROM customer
WHERE c_acctbal > 9000 AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_set_except(spark, sf):
    """Set op: BUILDING-segment customers who never ordered (EXCEPT)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
        .subtract(o.select(F.col("o_custkey").alias("custkey")))
    )


SQL_SET_EXCEPT = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS custkey FROM orders
"""


def q_sessionize(spark, sf):
    """Sessionization: 30-min inactivity gap, per-user session count.
    Millisecond epoch arithmetic (ns-safe across engines)."""
    ev = _t(spark, sf, "events")
    ms = _ts_ms(ev)
    w = Window.partitionBy("user_id").orderBy("event_id")
    gap = ms - F.lag(ms).over(w)
    return (
        ev.withColumn("is_new", F.when(gap > 1800000, 1).otherwise(0))
        .groupBy("user_id")
        .agg((F.sum("is_new") + 1).alias("n_sessions"))
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS gap
  FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions
FROM g GROUP BY user_id
"""


def q_session_counts(spark, sf):
    """Per-session rollups on Spark's NATIVE session_window
    (streaming/windows.session_counts): JVM-side merge state, no
    Python round trips — the aggregate-only complement to the
    row-level sessionize paths. 30-min gap per user; each session
    reports its [first, last+gap) bounds in epoch ms and event count.
    Events exactly gap apart MERGE (Spark semantics, empirically
    pinned in the operator docstring); the oracle reproduces that with
    a lag/cumsum over ms."""
    from platypus_ingestion_plugins_spark.streaming.windows import session_counts

    ev = _t(spark, sf, "events")
    df = ev.withColumn("event_time", F.timestamp_millis(_ts_ms(ev)))
    return session_counts(df, gap="30 minutes", keys=("user_id",)).select(
        "user_id",
        F.unix_millis("session.start").alias("session_start_ms"),
        F.unix_millis("session.end").alias("session_end_ms"),
        "n_events",
    )


SQL_SESSION_COUNTS = """
WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
m AS (
  SELECT user_id, ms,
         CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                   > 1800000 THEN 1 ELSE 0 END AS is_new
  FROM e),
s AS (
  SELECT user_id, ms,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ms
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m)
SELECT user_id,
       min(ms) AS session_start_ms,
       max(ms) + 1800000 AS session_end_ms,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_dataset_diff(spark, sf):
    """Corpus release diff (operators/diff.dataset_diff): version N =
    documents minus the doc_id%7 family; version N+1 = documents minus
    the %11 family with the %5 family's text edited. The diff reports
    exactly the added/removed/changed keys from ONE (key, hash)
    full-outer join — payloads never shuffle. The data-release audit
    you run before retraining on a new cut."""
    from platypus_ingestion_plugins_spark.operators.diff import dataset_diff

    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0)
    new = d.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return dataset_diff(old, new, "doc_id", compare_cols=["text"])


SQL_DATASET_DIFF = """
WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 0),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text <> n.text THEN 'changed' END AS change
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT doc_id, change FROM j WHERE change IS NOT NULL
"""


def q_cap_per_group(spark, sf):
    """Heavy-tail domain capping (functions/sampling.cap_per_group):
    every source keeps at most its 15 smallest-hash documents — the
    absolute-count complement to temperature_mix's rate reweighting.
    Hash-order membership makes the kept set deterministic across
    engines, so the oracle reproduces the exact rows, not just the
    counts."""
    from platypus_ingestion_plugins_spark.functions.sampling import cap_per_group

    d = _t(spark, sf, "documents")
    return cap_per_group(d, "doc_id", "source", k=15).select(
        "doc_id", "source"
    )


SQL_CAP_PER_GROUP = """
WITH h AS (
  SELECT doc_id, source,
         (CAST(('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) / 1152921504606846976.0) AS u
  FROM documents),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
  FROM h)
SELECT doc_id, source FROM r WHERE rn <= 15
"""


def q_zorder_values(spark, sf):
    """Morton z-values over two event dimensions
    (operators/zorder.zorder_value): value bucketed over a fixed
    [0, 256) range and event_id mod 1024 over [0, 1024), 4 bits each,
    bit-interleaved — the clustering key behind the z-ordered layout's
    two-dimensional directory pruning (write_zordered /
    zorder_range_scan; pruning certified by input-file metrics in
    test_zorder). Fixed caller-declared ranges make the code pure
    integer/double arithmetic, so the oracle evaluates the identical
    closed form term by term."""
    from platypus_ingestion_plugins_spark.operators.zorder import zorder_value

    ev = _t(spark, sf, "events")
    z = zorder_value(
        [
            (F.col("value"), 0.0, 256.0),
            (F.pmod(F.col("event_id"), F.lit(1024)).cast("double"), 0.0, 1024.0),
        ],
        bits=4,
    )
    return ev.select("event_id", z.alias("zval"))


def _sql_zorder_values(bits: int = 4) -> str:
    def bucket(expr: str, mn: float, mx: float) -> str:
        w = (mx - mn) / float(1 << bits)
        top = (1 << bits) - 1
        return (
            f"greatest(least(CAST(floor(({expr} - {mn!r}) / {w!r}) AS BIGINT), "
            f"{top}), 0)"
        )

    b0 = bucket("value", 0.0, 256.0)
    b1 = bucket("CAST(event_id % 1024 AS DOUBLE)", 0.0, 1024.0)
    terms = []
    for j, b in enumerate((b0, b1)):
        for i in range(bits):
            terms.append(f"((({b} >> {i}) & 1) << {i * 2 + j})")
    return f"SELECT event_id, ({' + '.join(terms)}) AS zval FROM events"


SQL_ZORDER_VALUES = _sql_zorder_values()


def q_stream_quantiles(spark, sf):
    """Streaming quantile-sketch maintenance
    (functions/sketches.bottomk_merge_into): events arrive in two
    drops; each micro-batch's bottom-k hash sample merges with the
    accumulated state (union + re-bottom-k — membership depends only
    on each row's own hash, so the merged sample EQUALS the one-shot
    bottom-k over the whole stream) under the shared epoch-pinned
    crash-safe commit. The read-back quantiles therefore match the
    batch oracle exactly — always-current percentiles at k rows of
    state on an unbounded stream."""
    import shutil

    from platypus_ingestion_plugins_spark.functions.sketches import (
        bottomk_merge_into,
        sketch_read,
    )

    ev = _t(spark, sf, "events")
    ev_lo, ev_hi = _median_split(ev, "event_id")
    work = _stream_scratch("stream_bk_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        state = os.path.join(work, "sample")

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(
                    lambda b, bid: bottomk_merge_into(
                        b, "event_id", "value", state, k=256, batch_id=bid
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, ev_lo.select("event_id", "value"), ev_hi.select("event_id", "value"), src, ckpt, run_available)

        sample = sketch_read(spark, state)
        out = sample.agg(
            F.round(F.percentile("v", F.lit(0.25)), 6).alias("q_0_25"),
            F.round(F.percentile("v", F.lit(0.5)), 6).alias("q_0_5"),
            F.round(F.percentile("v", F.lit(0.95)), 6).alias("q_0_95"),
            F.count(F.lit(1)).alias("n_sample"),
        ).localCheckpoint(eager=True)
        shutil.rmtree(work, ignore_errors=True)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_QUANTILES = """
WITH h AS (
  SELECT value,
         (CAST(('0x' || substr(md5('bottomk|' || CAST(event_id AS VARCHAR)), 1, 15))
           AS BIGINT) / 1152921504606846976.0) AS u
  FROM events),
s AS (SELECT value FROM h ORDER BY u, value LIMIT 256)
SELECT round(quantile_cont(value, 0.25), 6) AS q_0_25,
       round(quantile_cont(value, 0.5), 6) AS q_0_5,
       round(quantile_cont(value, 0.95), 6) AS q_0_95,
       count(*) AS n_sample
FROM s
"""


def q_chunk_text(spark, sf):
    """RAG-style document chunking (functions/text.chunk_text):
    256-char windows with 64-char overlap (step 192) — every document
    becomes its ordinal chunk rows, consecutive chunks sharing the
    overlap so no split point hides a phrase from retrieval. Pure
    codegen (sequence + substring + posexplode); the oracle rebuilds
    the identical windows with generate_series + substr."""
    from platypus_ingestion_plugins_spark.functions.text import chunk_text

    d = _t(spark, sf, "documents")
    return chunk_text(d, "text", "doc_id", chunk_chars=256, overlap=64)


SQL_CHUNK_TEXT = """
SELECT doc_id, i AS chunk_id, substr(text, i*192 + 1, 256) AS chunk
FROM documents,
     unnest(generate_series(0, greatest(length(text) - 1, 0) // 192)) AS t(i)
"""


def q_stream_heavy_hitters(spark, sf):
    """Streaming count-min materialization
    (functions/sketches.countmin_merge_into): events arrive in two
    drops; each micro-batch's depth×width counters fold into the
    accumulated counter table by elementwise ADD under a snapshot
    commit with the foreachBatch batch_id pinned in the snapshot
    (replay-idempotent — ADD alone would double-count a replayed
    batch). The algebraic merge makes the
    final counters EQUAL the one-shot batch sketch, so the estimates
    read off them match the batch oracle exactly — the
    precompute-per-batch-then-merge pattern that keeps frequency
    tracking O(depth×width) state on an unbounded stream."""
    import shutil

    from platypus_ingestion_plugins_spark.functions.sketches import (
        countmin_estimate,
        countmin_read,
        countmin_merge_into,
    )

    ev = _t(spark, sf, "events")
    ev_lo, ev_hi = _median_split(ev, "event_id")
    work = _stream_scratch("stream_cm_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        counters_path = os.path.join(work, "counters")

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(
                    lambda b, bid: countmin_merge_into(
                        b, "event_type", counters_path,
                        depth=4, width=256, batch_id=bid,
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, ev_lo.select("event_id", "event_type"), ev_hi.select("event_id", "event_type"), src, ckpt, run_available)

        counters = countmin_read(spark, counters_path)
        keys = ev.select("event_type").distinct()
        est = countmin_estimate(counters, keys, "event_type", depth=4, width=256)
        exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
        out = est.join(exact, "event_type").select(
            "event_type", "est_count", "exact_count"
        ).localCheckpoint(eager=True)
        shutil.rmtree(work, ignore_errors=True)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_text_normalize(spark, sf):
    """Unicode NFC normalization (functions/text.normalize_unicode):
    the corpus is first DE-composed deterministically (every 'a'
    becomes 'a' + U+0301 combining acute — both engines apply the
    same replace), then normalized back to composed form. The oracle
    compares sha256 of the normalized text, so the hash matches only
    if Spark's unicodedata path and DuckDB's nfc_normalize produce
    byte-identical output — the property that makes
    normalize-before-hash dedup sound across engines."""
    from platypus_ingestion_plugins_spark.functions.text import normalize_unicode

    d = _t(spark, sf, "documents")
    decomposed = F.regexp_replace(F.col("text"), "a", "a\u0301")
    norm = normalize_unicode(decomposed, "NFC")
    return d.select(
        "doc_id",
        F.length(decomposed).alias("n_raw"),
        F.length(norm).alias("n_norm"),
        F.sha2(norm, 256).alias("sha_norm"),
    )


SQL_TEXT_NORMALIZE = """
WITH t AS (
  SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS decomposed
  FROM documents)
SELECT doc_id,
       length(decomposed) AS n_raw,
       length(nfc_normalize(decomposed)) AS n_norm,
       sha256(nfc_normalize(decomposed)) AS sha_norm
FROM t
"""


def q_ivf_append_compact(spark, sf):
    """Incremental IVF layout maintenance under the oracle
    (similarity.append_ivf_partitioned/compact_ivf_partitioned): two
    appends against pinned centroids fragment every cent_id= list to
    two files, compaction rewrites them through the single-job
    copy-park-swap, and the read-back must hold every vector with its
    EXACT nearest-centroid assignment — a vector lost, duplicated, or
    refiled by the rewrite breaks the hash. Centroid-mismatch pinning
    and crash-heal are unit-covered (test_ivf_append_compact)."""
    import shutil

    from platypus_ingestion_plugins_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    cents = emb.orderBy("vec_id").limit(16)
    emb_lo, emb_hi = _median_split(emb, "vec_id")
    work = _stream_scratch("ivf_idx_")
    idx = os.path.join(work, "ivf")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # r17 (the band_index_compact pattern, guide §2.6): the two
        # half appends are independent but share one output path's
        # FileOutputCommitter _temporary dir — the second half appends
        # to a staging layout concurrently and its cent_id= files
        # rename in, leaving directory state byte-identical to two
        # serial appends (scripts/ab_band_stage.py measured the twin)
        side = os.path.join(work, "ivf_staging")
        concurrency.overlap_jobs(
            lambda: similarity.append_ivf_partitioned(emb_lo, cents, idx),
            lambda: similarity.append_ivf_partitioned(emb_hi, cents, side),
        )
        _merge_partitioned_files(side, idx)
        if not similarity.compact_ivf_partitioned(spark, idx, max_files_per_dir=1):
            raise RuntimeError("IVF compaction found nothing to rewrite")
        _keep_until_exit(work, keep=idx)
        return spark.read.parquet(idx).select("vec_id", "cent_id")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_IVF_APPEND_COMPACT = """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16),
scored AS (
  SELECT e.vec_id, c.cent_id,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS sim
  FROM embeddings e CROSS JOIN cents c)
SELECT vec_id, cent_id FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cent_id) AS rn
  FROM scored) WHERE rn = 1
"""


def q_quantile_sketch(spark, sf):
    """Bottom-k-hash quantile sketch
    (functions/sketches.bottomk_quantiles): per event_type, p25/50/95
    of value estimated from the 256 smallest-md5-hash events — the
    mergeable, ENGINE-CHECKABLE alternative to percentile_approx
    (whose t-digest layout no oracle can reproduce). The hash order
    fixes the exact sample, so the oracle recomputes the identical
    estimate, not just an approximately-close one."""
    from platypus_ingestion_plugins_spark.functions.sketches import (
        bottomk_quantiles,
    )

    ev = _t(spark, sf, "events")
    return bottomk_quantiles(
        ev, "event_id", "value", group_cols=("event_type",),
        probs=(0.25, 0.5, 0.95), k=256,
    )


def _sql_quantile_sketch(k: int = 256) -> str:
    # same md5->[0,1) idiom as _UNIT_SQL (defined later in the module)
    u = (
        "(CAST(('0x' || substr(md5('bottomk|' || CAST(event_id AS VARCHAR)), 1, 15))"
        " AS BIGINT) / 1152921504606846976.0)"
    )
    return f"""
WITH h AS (
  SELECT event_type, value, {u} AS u FROM events),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY u, value) AS rn
  FROM h)
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS q_0_25,
       round(quantile_cont(value, 0.5), 6) AS q_0_5,
       round(quantile_cont(value, 0.95), 6) AS q_0_95,
       count(*) AS n_sample
FROM r WHERE rn <= {k}
GROUP BY event_type
"""


SQL_QUANTILE_SKETCH = _sql_quantile_sketch()


def q_bloom_decontam(spark, sf):
    """Bloom-filter contamination pre-screen
    (operators/decontam.contaminated_docs_bloom): the benchmark gram
    set collapses to 4096 BITS (functions/sketches.bloom_build) and
    the training side probes a pure codegen expression — no join on
    the corpus side at all. No false negatives by construction;
    deterministic salted-md5 bits mean even the false-positive set is
    engine-reproducible, so the oracle rebuilds the identical filter
    in SQL and must match every flagged count exactly."""
    from platypus_ingestion_plugins_spark.operators import decontam

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 101 == 0)
    train = d.filter(F.col("doc_id") % 101 != 0)
    return decontam.contaminated_docs_bloom(
        train, bench, "text", "doc_id", n=3, num_bits=4096, num_hashes=3
    )


def _sql_bloom_decontam(num_bits: int = 4096, num_hashes: int = 3) -> str:
    def h(salt: int, col: str = "shingle") -> str:
        return (
            f"CAST(('0x' || substr(md5('{salt}|' || {col}), 1, 15)) AS BIGINT)"
            f" % {num_bits}"
        )

    hashes = ", ".join(h(7000 + i) for i in range(num_hashes))
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks),
shf AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
bench AS (SELECT DISTINCT shingle FROM shf WHERE doc_id % 101 = 0),
bcell AS (
  SELECT DISTINCT h // 32 AS w, h % 32 AS bit
  FROM (SELECT unnest([{hashes}]) AS h FROM bench)),
words AS (SELECT w, bit_or(CAST(2 ** bit AS BIGINT)) AS bits
          FROM bcell GROUP BY w),
probe AS (SELECT doc_id, shingle FROM shf WHERE doc_id % 101 <> 0),
pcell AS (
  SELECT doc_id, shingle, unnest([{hashes}]) AS h FROM probe),
hits AS (
  SELECT p.doc_id, p.shingle
  FROM pcell p LEFT JOIN words ON words.w = p.h // 32
  GROUP BY p.doc_id, p.shingle
  HAVING count(*) FILTER (
      WHERE (words.bits & CAST(2 ** (p.h % 32) AS BIGINT))
            = CAST(2 ** (p.h % 32) AS BIGINT)) = {num_hashes})
SELECT doc_id, count(*) AS n_flagged_grams FROM hits GROUP BY doc_id
"""


SQL_BLOOM_DECONTAM = _sql_bloom_decontam()


def q_model_score(spark, sf):
    """Model-inference hosting plumbing
    (functions/inference.score_with): per-task model init + Arrow-
    batched scoring + full-row passthrough, driven by the
    deterministic md5 stand-in model (hash_scorer) so batching, row
    alignment, and passthrough are ORACLE-CHECKED rather than trusted
    — the scaffold a real quality classifier / reward model drops
    into. Output: every document with its score, filtered to the
    'keep' band like a real scoring pass would."""
    from platypus_ingestion_plugins_spark.functions.inference import (
        hash_scorer,
        score_with,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    # init-once-per-task is pinned by test_score_with_init_once_and_alignment;
    # here a marker object stands in for the weight load
    scored = score_with(
        d, ["text"], [("score", "double")],
        hash_scorer("text", "score"), init=lambda: object(),
    )
    return scored.filter(F.col("score") >= 0.2).select(
        "doc_id", "lang", F.round("score", 6).alias("score")
    )


SQL_MODEL_SCORE = """
WITH s AS (
  SELECT doc_id, lang,
         (CAST(('0x' || substr(md5('model|' || coalesce(text, '')), 1, 15))
           AS BIGINT) / 1152921504606846976.0) AS score
  FROM documents)
SELECT doc_id, lang, round(score, 6) AS score FROM s WHERE score >= 0.2
"""


def q_jsonl_roundtrip(spark, sf):
    """JSONL shard export + typed read-back under the oracle
    (operators/export.export_jsonl_shards/read_jsonl_shards): the
    corpus lands as gzip JSONL shards in deterministic permutation
    order (JVM-side to_json, no Python) and the read-back must
    reproduce every (doc_id, text, lang) exactly against the source
    table — the lingua-franca LLM data-drop format round-tripped
    bit-for-bit."""
    import shutil

    from platypus_ingestion_plugins_spark.operators.export import (
        export_jsonl_shards,
        read_jsonl_shards,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    work = _stream_scratch("jsonl_exp_")
    out = os.path.join(work, "jsonl")
    try:
        export_jsonl_shards(docs, out, "doc_id", n_shards=8)
        _keep_until_exit(work, keep=out)
        return read_jsonl_shards(
            spark, out, "doc_id long, text string, lang string"
        )
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_JSONL_ROUNDTRIP = """
SELECT doc_id, text, lang FROM documents
"""


def q_exact_substring_dedup(spark, sf):
    """ExactSubstr dedup (operators/dedup.mask_repeated_spans — NEW
    r11; Lee et al. 2022 arXiv:2107.06499): every token covered by an
    8-token window occurring >= 2 times corpus-wide is dropped; docs
    shorter than 8 tokens pass through whitespace-normalized. The
    oracle replays the identical hot-window coverage and ordered
    reassembly (1015 hot grams / 47 covered docs at sf0.01 — the
    near-dup fixture families carry real shared spans)."""
    return dedup.mask_repeated_spans(
        _t(spark, sf, "documents"), "text", "doc_id", k=8
    ).select("doc_id", "text_deduped")


SQL_EXACT_SUBSTRING_DEDUP = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\\s+'), x -> x <> '') AS t
  FROM documents),
longd AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 8),
pos AS (SELECT doc_id, t, unnest(generate_series(1, n - 7)) AS i FROM longd),
grams AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS g FROM pos),
hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hs AS (SELECT doc_id, i FROM grams JOIN hot USING (g)),
tp AS (
  SELECT doc_id, unnest(generate_series(1, n)) AS p, t FROM longd),
tokpos AS (SELECT doc_id, p, t[p] AS tok FROM tp),
keep AS (
  SELECT doc_id, p, tok FROM tokpos
  WHERE NOT EXISTS (
    SELECT 1 FROM hs
    WHERE hs.doc_id = tokpos.doc_id AND hs.i BETWEEN tokpos.p - 7 AND tokpos.p)),
clean_long AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean FROM keep GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN len(tk.t) >= 8 THEN coalesce(cl.clean, '')
            ELSE array_to_string(tk.t, ' ') END AS text_deduped
FROM documents d
JOIN toks tk USING (doc_id)
LEFT JOIN clean_long cl USING (doc_id)
"""


def q_stream_exact_substring_dedup(spark, sf):
    """Streaming ExactSubstr (dedup.mask_repeated_spans_incremental —
    NEW r11): documents stream in two seq-ordered drops; each
    micro-batch masks every 8-token window already present in >= 1
    smaller-id document (accumulated span-count index + this batch,
    FIRST-KEEPS — the window's first document keeps its copy), appends
    its own distinct-doc span counts to the index (the line-count
    index machinery verbatim: bucketed kb= layout, epoch-pinned
    appends with exclude_batch_id replay exclusion, auto-compaction
    every 4th epoch), and emits append-only. Under the seq-ordered
    contract the union of batch outputs equals the one-shot
    first-keeps computation the oracle replays."""
    import shutil

    d = _t(spark, sf, "documents").select("doc_id", "text")
    docs_lo, docs_hi = _median_split(d, "doc_id")

    work = _stream_scratch("stream_substr_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        idx = os.path.join(work, "index")
        outp = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def handle(batch_df, bid):
            starts = dedup.span_start_keys(batch_df, "text", "doc_id", k=8)
            starts.persist()
            try:
                # compaction (one snapshot commit replacing every
                # file) runs FIRST, in its own serial step, so the
                # overlapped jobs below build on its snapshot;
                # every committed epoch < bid can no longer replay at
                # this point — the same safety window the old
                # inside-append placement used (r16, guide §2.6)
                if bid % 4 == 3 and dedup.line_count_index_exists(
                    spark, idx
                ):
                    dedup.compact_line_count_index(
                        spark, idx, max_files_per_bucket=4,
                        exclude_batch_id=str(bid),
                    )
                pairs = starts.select("line_key", "doc_id").distinct()
                earlier = (
                    dedup.read_line_counts_pruned(
                        spark, idx, pairs, exclude_batch_id=bid
                    )
                    if dedup.line_count_index_exists(spark, idx)
                    else None
                )
                # the masked-output write and the span-count append are
                # independent (the append excludes epoch bid on read,
                # and `earlier` pinned its snapshot above), so
                # their jobs overlap instead of serializing (§2.6)
                concurrency.overlap_jobs(
                    lambda: (
                        dedup.mask_repeated_spans_incremental(
                            batch_df, earlier, "text", "doc_id", k=8,
                            starts=starts,
                        )
                        .select("doc_id", "text_deduped")
                        .write.mode("append")
                        .parquet(outp)
                    ),
                    lambda: dedup.append_line_count_index(
                        dedup.span_count_keys(starts, "doc_id"),
                        idx, key_buckets=16, batch_id=bid,
                    ),
                )
            finally:
                starts.unpersist()

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(handle)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, docs_lo, docs_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=outp)
        return (
            spark.read.parquet(outp)
            .select("doc_id", F.sha2("text_deduped", 256).alias("sha_clean"))
            .distinct()
        )
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# one-shot FIRST-KEEPS replay: doc masks a window iff >= 1 smaller-id
# doc contains it <=> the doc's rank among containing docs >= 2
SQL_STREAM_EXACT_SUBSTRING_DEDUP = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\\s+'), x -> x <> '') AS t
  FROM documents),
longd AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 8),
pos AS (SELECT doc_id, t, unnest(generate_series(1, n - 7)) AS i FROM longd),
grams AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS g FROM pos),
kd AS (SELECT DISTINCT doc_id, g FROM grams),
rk AS (
  SELECT doc_id, g,
         row_number() OVER (PARTITION BY g ORDER BY doc_id) AS r
  FROM kd),
hotdoc AS (SELECT doc_id, g FROM rk WHERE r >= 2),
hs AS (
  SELECT grams.doc_id, grams.i FROM grams
  JOIN hotdoc ON grams.doc_id = hotdoc.doc_id AND grams.g = hotdoc.g),
tp AS (SELECT doc_id, unnest(generate_series(1, n)) AS p, t FROM longd),
tokpos AS (SELECT doc_id, p, t[p] AS tok FROM tp),
keep AS (
  SELECT doc_id, p, tok FROM tokpos
  WHERE NOT EXISTS (
    SELECT 1 FROM hs
    WHERE hs.doc_id = tokpos.doc_id AND hs.i BETWEEN tokpos.p - 7 AND tokpos.p)),
clean_long AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean FROM keep GROUP BY doc_id)
SELECT d.doc_id,
       sha256(CASE WHEN len(tk.t) >= 8 THEN coalesce(cl.clean, '')
                   ELSE array_to_string(tk.t, ' ') END) AS sha_clean
FROM documents d
JOIN toks tk USING (doc_id)
LEFT JOIN clean_long cl USING (doc_id)
"""


def q_budget_select(spark, sf):
    """Token-budget selection (functions/sampling.select_token_budget —
    NEW r11): per-language 50k-char budgets filled in quality-priority
    order (priority = n_chars desc here, ties -> doc_id) with the
    strict-prefix contract — a row is kept iff its inclusive running
    token sum fits, so the selection is a pure window predicate the
    oracle replays exactly. The global (by=None) variant runs the
    two-phase bucketed selection (no single-reducer window) and is
    covered by the brute-force equivalence test."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        select_token_budget,
    )

    d = _t(spark, sf, "documents")
    return select_token_budget(
        d, "doc_id", "n_chars", 50_000, by="lang", priority_col="n_chars"
    ).select("doc_id", "lang", "n_chars")


SQL_BUDGET_SELECT = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents)
WHERE cum <= 50000
"""


def q_avro_roundtrip(spark, sf):
    """Avro OCF shard export + block-split read-back under the oracle
    (sources/avro_ocf.export_avro_ocf/read_avro_ocf — NEW r11, closing
    the export matrix: JSONL and tar already round-tripped, OCF was
    read-only): the corpus lands as sync-delimited OCF shards in
    deterministic permutation order (streamed per-task blocks, no
    in-memory file image) and the ranged block-split reader must
    reproduce every (doc_id, text, lang) exactly."""
    import shutil

    from platypus_ingestion_plugins_spark.sources.avro_ocf import (
        export_avro_ocf,
        read_avro_ocf,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    work = _stream_scratch("avro_exp_")
    out = os.path.join(work, "ocf")
    try:
        export_avro_ocf(docs, out, "doc_id", n_shards=8)
        _keep_until_exit(work, keep=out)
        return read_avro_ocf(spark, out)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_AVRO_ROUNDTRIP = """
SELECT doc_id, text, lang FROM documents
"""


def q_tar_roundtrip(spark, sf):
    """WebDataset-style tar shard export + streaming read-back under
    the oracle (operators/export.export_tar_shards/read_tar_shards):
    the corpus lands as deterministic-byte tar shards (one task per
    shard, permutation order, utf-8 text entries) and the sequential
    tar reader must reproduce every (doc_id, text) EXACTLY — a sample
    lost, duplicated, or byte-mangled by the tar framing breaks the
    value hash against the source table."""
    import shutil

    from platypus_ingestion_plugins_spark.operators.export import (
        export_tar_shards,
        read_tar_shards,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    work = _stream_scratch("tar_wds_")
    out = os.path.join(work, "wds")
    try:
        manifest = export_tar_shards(
            docs, out, "doc_id", {"text": "txt"}, n_shards=8
        )
        if len(manifest) != 8:
            raise RuntimeError(f"expected 8 tar shards, got {len(manifest)}")
        _keep_until_exit(work, keep=out)
        return read_tar_shards(spark, out, {"txt": "text"}, key_name="k").select(
            F.col("k").cast("long").alias("doc_id"), "text"
        )
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_TAR_ROUNDTRIP = """
SELECT doc_id, text FROM documents
"""


def q_resample_ffill(spark, sf):
    """Hourly forward-filled per-user value series
    (operators/resample.resample_last_ffill): irregular events collapse
    to last-value-per-hour (deterministic (ts, event_id) tie-break),
    the dense per-key hour grid comes from one bounded
    sequence/explode, and gaps carry the previous hour's value — the
    LOCF resampling a feature pipeline feeds to training joins. The
    value passes through untouched, so the oracle compare is
    bit-exact."""
    from platypus_ingestion_plugins_spark.operators.resample import (
        resample_last_ffill,
    )

    ev = _t(spark, sf, "events")
    return resample_last_ffill(
        ev, _ts_ms(ev), "value", key_cols=("user_id",),
        step_ms=3_600_000, tiebreak_col="event_id",
    )


SQL_RESAMPLE_FFILL = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms, value, event_id FROM events),
b AS (
  SELECT user_id, ms // 3600000 AS bucket, value,
         row_number() OVER (PARTITION BY user_id, ms // 3600000
                            ORDER BY ms DESC, event_id DESC) AS rn
  FROM e),
lastv AS (SELECT user_id, bucket, value FROM b WHERE rn = 1),
bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
           FROM lastv GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
         FROM bounds),
j AS (SELECT g.user_id, g.bucket, l.value
      FROM grid g LEFT JOIN lastv l USING (user_id, bucket))
SELECT user_id, bucket,
       last_value(value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM j
"""


def q_range_join(spark, sf):
    """Range/interval join via bucketed blocking (operators/range_join):
    event values matched into half-open [lo, hi) bands derived from
    nation keys; per-band hit counts. The blocked plan equi-joins on
    the bucket id — no BroadcastNestedLoop/cartesian."""
    from platypus_ingestion_plugins_spark.operators.range_join import range_join

    ev = _t(spark, sf, "events").select("event_id", "value")
    bands = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 16.0).alias("lo"),
        (F.col("n_nationkey") * 16.0 + 12.0).alias("hi"),
    )
    return (
        range_join(ev, bands, "value", "lo", "hi", bucket_width=16.0)
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), 2, "sum_value"),
        )
    )


SQL_RANGE_JOIN = """
SELECT n.n_nationkey AS band_id,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
FROM events e
JOIN nation n
  ON e.value >= n.n_nationkey * 16.0 AND e.value < n.n_nationkey * 16.0 + 12.0
GROUP BY 1
"""


def q_heavy_hitters_sketch(spark, sf):
    """Count-min frequency sketch (functions/sketches): depth=4 x
    width=256 salted-md5 counters over event_type, point estimates
    read back for every distinct type beside the exact count. Bounded
    state (1024 longs) regardless of key cardinality, elementwise-ADD
    mergeable, and — same md5 trick as the distinct sketch — the
    estimates value-match the oracle exactly."""
    from platypus_ingestion_plugins_spark.functions.sketches import (
        countmin_counters,
        countmin_estimate,
    )

    ev = _t(spark, sf, "events")
    counters = countmin_counters(ev, "event_type", depth=4, width=256)
    keys = ev.select("event_type").distinct()
    est = countmin_estimate(counters, keys, "event_type", depth=4, width=256)
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "event_type").select(
        "event_type", "est_count", "exact_count"
    )


def _sql_heavy_hitters(depth: int = 4, width: int = 256) -> str:
    bucket = (
        "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || event_type), 1, 15)) "
        f"AS BIGINT) % {width}"
    )
    return f"""
WITH cells AS (
  SELECT i, {bucket} AS b
  FROM events, unnest([{",".join(str(i) for i in range(depth))}]) AS t(i)),
counters AS (SELECT i, b, count(*) AS c FROM cells GROUP BY i, b),
keys AS (SELECT DISTINCT event_type FROM events),
kb AS (
  SELECT event_type, i, {bucket} AS b
  FROM keys, unnest([{",".join(str(i) for i in range(depth))}]) AS t(i)),
est AS (
  SELECT event_type, min(c) AS est_count
  FROM kb JOIN counters USING (i, b) GROUP BY event_type),
exact AS (SELECT event_type, count(*) AS exact_count FROM events GROUP BY event_type)
SELECT est.event_type, CAST(est_count AS BIGINT) AS est_count, exact_count
FROM est JOIN exact USING (event_type)
"""


SQL_HEAVY_HITTERS_SKETCH = _sql_heavy_hitters()


def q_distinct_sketch(spark, sf):
    """Bounded-state distinct-count sketch (functions/sketches): per
    event_type, the m=64 minimum-statistics estimate of distinct users
    beside the exact count. The estimate itself is engine-independent
    (shared md5 hash), so it value-matches the oracle — not just
    'approximately right'."""
    from platypus_ingestion_plugins_spark.functions.sketches import distinct_estimate

    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        distinct_estimate("user_id", m=64).alias("est_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def _sql_distinct_sketch(m: int = 64) -> str:
    mins = " + ".join(
        "MIN((CAST(('0x' || substr(md5('{i}|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        " + 1.0) / 1152921504606846976.0)".format(i=i)
        for i in range(m)
    )
    return f"""
SELECT event_type,
       ROUND({m}.0 / ({mins}) - 1.0, 4) AS est_users,
       count(DISTINCT user_id) AS exact_users
FROM events GROUP BY 1
"""


SQL_DISTINCT_SKETCH = _sql_distinct_sketch(64)


def q_hourly_agg(spark, sf):
    """Tumbling-window aggregation (batch shape of the streaming op)."""
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("hour", _ts_hour(ev))
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum(F.col("value"), 2, "sum_value"))
    )


SQL_HOURLY_AGG = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_asof_join(spark, sf):
    """As-of join: each purchase matched to the user's most recent
    prior-or-equal view (event_id axis: exact, monotone)."""
    ev = _t(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "value")
    v = ev.filter(F.col("event_type") == "view").select("user_id", "event_id", "value")
    return asof.asof_join(p, v, key="user_id", on="event_id")


SQL_ASOF_JOIN = """
SELECT p.user_id, p.event_id, p.value,
       v.event_id AS event_id_right, v.value AS value_right
FROM (SELECT user_id, event_id, value FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT user_id, event_id, value FROM events WHERE event_type='view') v
  ON p.user_id = v.user_id AND p.event_id >= v.event_id
"""


# --------------------------------------------------------------------------
# LLM-pipeline extensions (SURVEY §2.7)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"), "text", "doc_id")


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text
"""


def q_dedup_ngram_jaccard(spark, sf):
    return dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"), "text", "doc_id",
                                     n=3, threshold=0.1)


_SQL_SHINGLES = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks),
shf AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id)
"""

SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b,
         round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.1
"""


def q_dedup_minhash_lsh(spark, sf):
    return dedup.minhash_lsh_dedup_pairs(
        _t(spark, sf, "documents"), "text", "doc_id",
        n=3, num_hashes=8, bands=4, threshold=0.1,
    )


# hashes 2j / 2j+1 = the two 60-bit halves of md5(j|shingle) (hex chars
# 1-15 and 17-31), mirroring minhash_from_shingles
_MINHASH_COLS = ",\n".join(
    "  min(CAST(concat('0x', substr(md5(concat('{j}|', shingle)), {off}, 15)) AS BIGINT)) AS h{i}".format(
        j=i // 2, off=1 if i % 2 == 0 else 17, i=i
    )
    for i in range(8)
)
_BAND_COND = " OR ".join(
    f"(a.h{2*b} = b.h{2*b} AND a.h{2*b+1} = b.h{2*b+1})" for b in range(4)
)

SQL_DEDUP_MINHASH_LSH = f"""
WITH {_SQL_SHINGLES},
sigs AS (
  SELECT doc_id,
{_MINHASH_COLS}
  FROM shf GROUP BY doc_id),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({_BAND_COND})),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id
    AND (a.doc_id, b.doc_id) IN (SELECT (id_a, id_b) FROM cands)
  GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b,
         round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.1
"""


def q_winnow_overlap(spark, sf):
    """Winnowing (rolling-hash) overlap pairs: char-20-gram dual
    Karp-Rabin hashes (numpy-vectorized — k fused array ops per doc,
    not one md5 per char), window-of-8 minima, pairs sharing >= 2
    kept fingerprints —
    the containment detector (copied passage in an otherwise-different
    doc) that whole-document Jaccard misses. Map-only fingerprinting;
    the only shuffle is the inverted-index join on the ~1/w-density
    kept set. k=20 keeps common phrases out of the index (matches
    need a >= 20-char shared substring), which is what stops a
    boilerplate-heavy corpus from going quadratic."""
    return dedup.winnow_overlap_pairs(
        _t(spark, sf, "documents"), "text", "doc_id", k=20, w=8, min_shared=2
    )


SQL_WINNOW_OVERLAP = """
WITH t AS (
  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS txt
  FROM documents),
cps AS (
  SELECT doc_id, length(txt) AS n,
         list_transform(generate_series(1, greatest(length(txt), 1)),
                        i -> CAST(unicode(substr(txt, i, 1)) AS BIGINT)) AS cp
  FROM t),
h AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN [CAST(0 AS BIGINT)] ELSE
         list_transform(
           generate_series(1, greatest(n - 20 + 1, 1)),
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), cp[i:least(i+19, n)]),
                            (a, c) -> (a * 1000003 + c) % 2147483647) * 2147483648
              + list_reduce(list_prepend(CAST(0 AS BIGINT), cp[i:least(i+19, n)]),
                            (a, c) -> (a * 257 + c) % 2147483629))
         END AS hs
  FROM cps),
wi AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             generate_series(1, greatest(len(hs) - 8 + 1, 1)),
             j -> list_min(hs[j : j + 7])
           )
         ) AS fps
  FROM h),
f AS (SELECT doc_id, unnest(fps) AS fp FROM wi)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM f a JOIN f b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_dedup_groups(spark, sf):
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    return dedup.connected_components_star(pairs, nodes=docs, id_col="doc_id")


SQL_DEDUP_GROUPS = f"""
WITH RECURSIVE {_SQL_SHINGLES},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b,
         round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b),
e AS (
  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.1
  UNION
  SELECT id_b, id_a FROM j WHERE jaccard >= 0.1),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r)
SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
"""


def q_group_split(spark, sf):
    """Leakage-free dataset split (NEW r13,
    functions/sampling.leakage_free_split): near-dup clusters from
    ngram-Jaccard + connected components, then every member hashes by
    its GROUP id — a test doc's near-twin can never land in train,
    the eval-leakage mode a row-hash split cannot prevent. Singletons
    (absent from the pair-driven CC output) coalesce to their own id,
    keeping the groups side duplicate-sized. Oracle replays the CC
    recursion + the md5 split CASE."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        leakage_free_split,
    )

    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    groups = dedup.connected_components_star(pairs, id_col="doc_id")
    return leakage_free_split(
        docs, "doc_id", groups, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "group_id", "split")


SQL_GROUP_SPLIT_TEMPLATE = f"""
WITH RECURSIVE {_SQL_SHINGLES},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b,
         round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b),
e AS (
  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.1
  UNION
  SELECT id_b, id_a FROM j WHERE jaccard >= 0.1),
reach(id, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
grp AS (SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id),
eff AS (
  SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN grp g USING (doc_id)),
h AS (
  SELECT doc_id, group_id,
         {{unit}} AS u
  FROM eff)
SELECT doc_id, group_id,
       CASE WHEN u < 0.1 THEN 'test' WHEN u < 0.9 THEN 'train'
            ELSE 'val' END AS split
FROM h
"""


def q_dedup_survivors(spark, sf):
    """Best-duplicate survivor selection (dedup.pick_survivors): the
    near-dup groups of dedup_groups, but each group keeps its LONGEST
    document (n_chars, tie on doc_id) instead of the arbitrary min-id
    — the policy real pipelines want because duplicate copies differ
    in truncation and boilerplate. One join + one group-bounded
    window."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    # no nodes= materialization: pick_survivors' left-join coalesces
    # absent ids to their own group (singletons), saving one full
    # docs-side join vs labeling every document first
    groups = dedup.connected_components_star(pairs, id_col="doc_id")
    return dedup.pick_survivors(
        docs.select("doc_id", "n_chars"), groups, order_col="n_chars"
    ).select("group_id", "doc_id", "n_chars")


SQL_DEDUP_SURVIVORS = f"""
WITH RECURSIVE {_SQL_SHINGLES},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b,
         round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b),
e AS (
  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.1
  UNION
  SELECT id_b, id_a FROM j WHERE jaccard >= 0.1),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
labels AS (SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id),
ranked AS (
  SELECT l.group_id, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY l.group_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM labels l JOIN documents d USING (doc_id))
SELECT group_id, doc_id, n_chars FROM ranked WHERE rn = 1
"""


def q_jaccard_join(spark, sf):
    """Cross-corpus fuzzy match: even-doc_id corpus joined against the
    odd-doc_id corpus on trigram Jaccard >= 0.05 (entity-resolution
    shape: new drop vs existing corpus, never |L|x|R|)."""
    d = _t(spark, sf, "documents")
    return dedup.jaccard_join(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
        n=3,
        threshold=0.05,
    )


def q_containment_join(spark, sf):
    """Quote/excerpt detection (dedup.containment_join): 80-char
    prefix snippets (every 5th doc) matched against the full corpus
    by ASYMMETRIC containment — a snippet inside its source scores ~1
    where Jaccard vanishes under the long side's union denominator.
    Same inverted-index shape as jaccard_join."""
    d = _t(spark, sf, "documents")
    snippets = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.substring("text", 1, 80).alias("text")
    )
    return dedup.containment_join(snippets, d, "text", "doc_id", threshold=0.6)


SQL_CONTAINMENT_JOIN = """
WITH toks_r AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents),
toks_l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(substr(text, 1, 80)), '\\W+'),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 5 = 0),
sh_l AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks_l),
sh_r AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks_r),
shf_l AS (SELECT doc_id, shingle FROM sh_l WHERE shingle <> ''),
shf_r AS (SELECT doc_id, shingle FROM sh_r WHERE shingle <> ''),
sizes_l AS (SELECT doc_id, count(*) AS n_sh FROM shf_l GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_common
  FROM shf_l a JOIN shf_r b USING (shingle)
  GROUP BY 1, 2)
SELECT id_l, id_r, round(n_common::DOUBLE / na.n_sh, 6) AS containment
FROM inter JOIN sizes_l na ON na.doc_id = id_l
WHERE round(n_common::DOUBLE / na.n_sh, 6) >= 0.6
"""


SQL_JACCARD_JOIN = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks),
shf AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2)
SELECT id_l, id_r,
       round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_l
JOIN sizes nb ON nb.doc_id = id_r
WHERE round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) >= 0.05
"""


def q_dedup_simhash(spark, sf):
    return dedup.simhash(_t(spark, sf, "documents"), "text", "doc_id", bits=16)


def _simhash_sql(bits: int = 16) -> str:
    votes = ",\n".join(
        "  sum(CASE WHEN ((strpos('0123456789abcdef', substr(hx, {d}, 1)) - 1) >> {s}) & 1 = 1 "
        "THEN 1 ELSE -1 END) AS v{j}".format(d=j // 4 + 1, s=j % 4, j=j)
        for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS tok
  FROM documents),
h AS (SELECT doc_id, md5(tok) AS hx FROM tok),
votes AS (SELECT doc_id,
{votes}
  FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


SQL_DEDUP_SIMHASH = _simhash_sql(16)


def q_simhash_neardup(spark, sf):
    """Banded SimHash near-dup pairs (hamming <= 3 over 16 bits, 4
    bands): the blocking is LOSSLESS by pigeonhole, so the blocked
    plan must reproduce the oracle's exact all-pairs filter exactly —
    recall 1 at ~bands/2^4 of the n^2 cost."""
    return dedup.simhash_neardup_pairs(
        _t(spark, sf, "documents"), "text", "doc_id", bits=16, max_hamming=3, bands=4
    )


SQL_SIMHASH_NEARDUP = f"""
WITH fp AS ({_simhash_sql(16)})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_image_neardup(spark, sf):
    """Perceptual image near-dup (operators/multimodal.dhash_images +
    image_neardup_pairs — NEW r12, VERDICT r11 task #3): each doc
    renders a REAL 16x16 P5 netpbm image (raster = the text repeated
    to 256 bytes — a deterministic, oracle-replayable synthesis; the
    header+raster bytes are genuine netpbm built JVM-side), the
    kernel does a genuine netpbm decode -> 7x10 floor-index resample
    -> 63-bit horizontal-gradient dHash, and banded blocking (7
    disjoint 9-bit bands, lossless by pigeonhole for hamming <= 6)
    finds pairs without the n^2 cross join. The oracle replays the
    integer pixel lookups, the hash and the EXACT all-pairs filter —
    so the blocked plan's recall-1 claim is what's actually checked.
    Near-dup fixture text families produce near-identical rasters,
    hence hamming-0-to-small image pairs (18 pairs at sf0.01)."""
    d = _t(spark, sf, "documents")
    ras = F.expr(
        "substring(repeat(text, cast(ceil(256.0/length(text)) as int)), 1, 256)"
    )
    imgs = d.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P5\n16 16\n255\n"), "UTF-8"),
            F.encode(ras, "UTF-8"),
        ).alias("payload"),
    )
    return multimodal.image_neardup_pairs(imgs, max_hamming=6, bands=7)


# exact all-pairs replay of the 63-bit dHash: resized pixel (r, c) of
# the 7x10 grid reads source pixel (r*16//7, c*16//10) of the 16x16
# raster; raster byte i = text byte i mod len (repeat-then-truncate);
# bit r*9+c set iff left pixel > right pixel
SQL_IMAGE_NEARDUP = """
WITH raster AS (
  SELECT doc_id,
         substr(repeat(text, CAST(ceil(256.0 / length(text)) AS INT)), 1, 256) AS ras
  FROM documents),
bits AS (
  SELECT doc_id,
         CASE WHEN ascii(substr(ras, ((rr.g*16)//7)*16 + (cc.g*16)//10 + 1, 1))
                 > ascii(substr(ras, ((rr.g*16)//7)*16 + ((cc.g+1)*16)//10 + 1, 1))
              THEN 1::BIGINT << (rr.g*9 + cc.g) ELSE 0 END AS bit
  FROM raster,
       unnest(generate_series(0, 6)) AS rr(g),
       unnest(generate_series(0, 8)) AS cc(g)),
hashes AS (
  SELECT doc_id, sum(bit)::BIGINT AS dhash FROM bits GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.dhash, b.dhash)) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
"""


def q_similarity_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=10, dim=64)


SQL_SIMILARITY_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_knn_join(spark, sf):
    """Batch k-NN over the embedding corpus: 5 query vectors, top-5
    neighbors each, via the two-phase salted top-k merge (spread
    phase-1 exchange, bounded phase-2 exchange — see
    similarity.knn_join). Ranked on rounded cosine + id tie-break so
    the oracle's row_number reproduces it exactly."""
    emb = _t(spark, sf, "embeddings")
    return similarity.knn_join(
        emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64
    )


SQL_KNN_JOIN = """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos_sim
  FROM embeddings e, q),
r AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id)
           AS knn_rank
  FROM scored)
SELECT q_id, vec_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 5
"""


def q_hard_negatives(spark, sf):
    """Hard-negative mining (similarity.hard_negatives): per anchor,
    the 5 most-similar corpus vectors with a DIFFERENT label — the
    contrastive-training near-misses. Label predicate applies before
    ranking; plan = knn_join's broadcast + salted two-phase merge."""
    emb = _t(spark, sf, "embeddings")
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64
    )


SQL_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS q_id, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
           AS cos_sim
  FROM embeddings e, q
  WHERE e.label <> q.qlabel AND e.vec_id <> q.q_id),
r AS (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id)
           AS neg_rank
  FROM scored)
SELECT q_id, vec_id, cos_sim, neg_rank FROM r WHERE neg_rank <= 5
"""


def q_ndcg_eval(spark, sf):
    """Rank-aware retrieval evaluation (similarity.ndcg_at_k): nDCG@10
    of the knn_join ranking against graded judgments synthesized from
    labels (rel = max(0, 2 - |label_d - label_q|)) — recall says the
    right documents came back, nDCG says in the right order. Qrels are
    judgment-sized, so the ideal-order window is bounded."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    ranked = similarity.knn_join(emb, queries, k=10, dim=64)
    qlbl = queries.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("__qlabel")
    )
    rel = (
        emb.select("vec_id", "label")
        .crossJoin(F.broadcast(qlbl))
        .withColumn(
            "rel",
            F.greatest(
                F.lit(0), F.lit(2) - F.abs(F.col("label") - F.col("__qlabel"))
            ),
        )
        .filter(F.col("rel") > 0)
        .select("q_id", "vec_id", "rel")
    )
    return similarity.ndcg_at_k(ranked, rel, k=10, rank_col="knn_rank")


SQL_NDCG_EVAL = """
WITH q AS (
  SELECT vec_id AS q_id, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
           AS cos_sim
  FROM embeddings e, q),
r AS (
  SELECT q_id, vec_id, knn_rank FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id)
             AS knn_rank
    FROM scored) WHERE knn_rank <= 10),
rel AS (
  SELECT q.q_id, e.vec_id,
         greatest(0, 2 - abs(e.label - q.qlabel)) AS rel
  FROM embeddings e, q
  WHERE greatest(0, 2 - abs(e.label - q.qlabel)) > 0),
hits AS (
  SELECT r.q_id,
         coalesce(power(2, rel.rel) - 1, 0) / log2(r.knn_rank + 1) AS d
  FROM r LEFT JOIN rel ON r.q_id = rel.q_id AND r.vec_id = rel.vec_id),
dcg AS (SELECT q_id, round(sum(d), 6) AS dcg FROM hits GROUP BY q_id),
ideal AS (
  SELECT q_id, round(sum((power(2, rel) - 1) / log2(ir + 1)), 6) AS idcg
  FROM (
    SELECT q_id, rel,
           row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id)
             AS ir
    FROM rel) WHERE ir <= 10
  GROUP BY q_id)
SELECT q_id, coalesce(d.dcg, 0.0) AS dcg, coalesce(i.idcg, 0.0) AS idcg,
       CASE WHEN i.idcg > 0
            THEN round(coalesce(d.dcg, 0.0) / i.idcg, 6) END AS ndcg
FROM dcg d FULL JOIN ideal i USING (q_id)
"""


def q_similarity_quantized(spark, sf):
    """int8-quantized top-k: 4x less scan/shuffle than float at 100 TB;
    oracle reproduces the same floor(x*127/max|x|+0.5) integer math."""
    emb = _t(spark, sf, "embeddings")
    return similarity.quantized_topk(emb, emb.filter(F.col("vec_id") == 0), k=10)


SQL_SIMILARITY_QUANTIZED = """
WITH m AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         127.0 / greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12) AS s
  FROM embeddings),
b AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS qv
  FROM m),
q AS (SELECT qv AS qq FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(qv, qq)
             / sqrt(CAST(list_dot_product(qv, qv) * list_dot_product(qq, qq) AS DOUBLE)),
             6) AS qcos_sim
FROM b, q
ORDER BY qcos_sim DESC, vec_id LIMIT 10
"""


def q_similarity_ann(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return similarity.ann_topk(emb, emb.filter(F.col("vec_id") == 0), k=5, bits=4, dim=64)


SQL_SIMILARITY_ANN = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cos_sim
FROM b, q WHERE bucket = qbucket
ORDER BY cos_sim DESC, vec_id LIMIT 5
"""


def q_similarity_ivf(spark, sf):
    """IVF ANN: 16 inverted lists (deterministic lowest-id centroids),
    query probes its 2 nearest lists, exact cosine within them only
    (~1/8 of the corpus touched)."""
    emb = _t(spark, sf, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=10, n_centroids=16, nprobe=2,
    )


SQL_SIMILARITY_IVF = """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16),
scored AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cent_id,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS sim
  FROM embeddings e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.cent_id
  FROM cents c CROSS JOIN q
  ORDER BY list_cosine_similarity(q.qv, c.cvec) DESC, c.cent_id LIMIT 2)
SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
FROM assigned a JOIN probe p ON a.cent_id = p.cent_id CROSS JOIN q
ORDER BY cos_sim DESC, a.vec_id LIMIT 10
"""


def q_embedding_neardup(spark, sf):
    """Banded sign-LSH blocking (8 bands x 8 sign bits = all 64 dims),
    exact cosine verification of candidates only — never O(n^2).
    Recall at a real near-dup threshold (0.9) is ~0.94 with these
    params (p_bit=1-theta/pi=0.857, 1-(1-p^8)^8); at the loose 0.35
    benchmark threshold blocking is intentionally selective."""
    return similarity.neardup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.35, bits=8, bands=8, dim=64
    )


def _neardup_band_cond(bits: int = 8, bands: int = 8) -> str:
    """Oracle mirror of signbit_band_keys: pairs sharing ANY band of
    equal sign bits are candidates."""
    conds = []
    for band in range(bands):
        eqs = [
            f"(a.embedding[{band * bits + i + 1}] >= 0) = (b.embedding[{band * bits + i + 1}] >= 0)"
            for i in range(bits)
        ]
        conds.append("(" + " AND ".join(eqs) + ")")
    return " OR ".join(conds)


SQL_EMBEDDING_NEARDUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id AND ({_neardup_band_cond()})
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
"""


def q_embedding_dedup_groups(spark, sf):
    """Composition the 100 TB dedup pipeline actually runs: banded
    sign-LSH near-dup pairs -> large-star/small-star connected
    components -> one canonical group id per vector (min reachable
    id; singletons map to themselves)."""
    emb = _t(spark, sf, "embeddings")
    pairs = similarity.neardup_pairs(emb, threshold=0.35, bits=8, bands=8, dim=64)
    return dedup.connected_components_star(
        pairs, nodes=emb, id_col="vec_id"
    ).select("vec_id", "group_id")


SQL_EMBEDDING_DEDUP_GROUPS = f"""
WITH RECURSIVE pairs AS ({SQL_EMBEDDING_NEARDUP}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r)
SELECT id AS vec_id, min(r) AS group_id FROM reach GROUP BY id
"""


def q_embedding_decontam(spark, sf):
    """Embedding-space benchmark decontamination
    (operators/decontam.py:contaminated_embeddings): the corpus
    (vec_id % 7 != 0) screened against a small benchmark set
    (vec_id % 7 == 0) via banded sign-LSH candidates + exact cosine —
    bench side broadcast, corpus map-side, one shuffle (the per-doc
    agg). Catches paraphrase contamination n-gram overlap misses."""
    from platypus_ingestion_plugins_spark.operators.decontam import (
        contaminated_embeddings,
    )

    emb = _t(spark, sf, "embeddings")
    return contaminated_embeddings(
        emb.filter(F.col("vec_id") % 7 != 0),
        emb.filter(F.col("vec_id") % 7 == 0),
        threshold=0.30,
        dim=64,
    )


SQL_EMBEDDING_DECONTAM = f"""
WITH hits AS (
  SELECT a.vec_id, b.vec_id AS bid,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.vec_id % 7 <> 0 AND b.vec_id % 7 = 0 AND ({_neardup_band_cond()})
)
SELECT vec_id, count(DISTINCT bid) AS n_contaminated, max(cos) AS max_cos
FROM hits WHERE cos >= 0.30 GROUP BY vec_id
"""


def q_semdedup_keep(spark, sf):
    """SemDeDup pruned corpus (operators/similarity.py:semdedup):
    cluster-scoped cosine pruning, keep-min-id representative per
    semantic-duplicate chain. Sign-bit buckets (bits=6) stand in for
    the paper's k-means here; the kmeans-cluster path has its own
    oracle since r11 (``semdedup_kmeans``) plus unit coverage."""
    return similarity.semdedup(
        _t(spark, sf, "embeddings"), threshold=0.30, bits=6, dim=64
    ).select("vec_id", "label")


_SEMDEDUP_BITCOND = " AND ".join(
    f"(a.embedding[{i + 1}] >= 0) = (b.embedding[{i + 1}] >= 0)" for i in range(6)
)

SQL_SEMDEDUP_KEEP = f"""
SELECT a.vec_id, a.label FROM embeddings a
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings b
  WHERE b.vec_id < a.vec_id AND {_SEMDEDUP_BITCOND}
    AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.30
)
"""


def q_semdedup_kmeans(spark, sf):
    """SemDeDup over the paper's k-means clustering (VERDICT r10
    task #5) — the scale path: clusters = ivf_assign against
    kmeans_centroids (operators/similarity.py), then cluster-scoped
    keep-min-id pruning. iters=1 keeps the Lloyd round
    oracle-expressible (seed-assign -> element-wise means ->
    reassign): 8 lowest-id seed vectors, one assignment pass, one
    mean recomputation — deterministic end to end (lowest-id seeds,
    smallest-centroid-id tie-breaks, fixed-order mean reassembly), so
    DuckDB replays the identical clustering. More iterations only
    move cluster boundaries; the keep-min-id contract under test is
    iteration-count independent."""
    emb = _t(spark, sf, "embeddings")
    cents = similarity.kmeans_centroids(emb, n_centroids=8, iters=1)
    assigned = similarity.ivf_assign(emb, cents).select("vec_id", "cent_id")
    return similarity.semdedup(
        emb, threshold=0.30, clusters=assigned, dim=64
    ).select("vec_id", "label")


# One Lloyd round, replayed: seeds = 8 lowest-id vectors; a1 = nearest
# seed by cosine (ties -> smallest centroid id, = ivf_assign's max_by
# over (sim, -ord)); cent2 = element-wise member means (an empty
# cluster keeps its seed vector — can't occur with cosine self-match
# unless two seeds are identical, but the LEFT JOIN mirrors
# kmeans_centroids' keep-previous rule exactly); a2 = reassignment
# against the means; then cluster-scoped keep-min-id at the threshold.
# Known tolerance (r11 review #3): assignment argmaxes compare
# UNROUNDED cosines and the means sum doubles in engine-specific
# order, so a vector within ~ulps of equidistance between two
# centroids could in principle assign differently in Spark vs DuckDB.
# On this fixture the argmax margins are orders of magnitude above
# double noise (random 64-dim vectors, 8 well-separated seeds) and
# the inputs are frozen, so the check is stable; rounding the
# assignment cosine would CREATE exact ties where the engines'
# tie-breaks must then agree on unrounded order — strictly worse.
SQL_SEMDEDUP_KMEANS = """
WITH seeds AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, s.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], s.cvec) DESC,
                      s.cent_id) AS rn
    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
means AS (
  SELECT cent_id, i, avg(v[i]) AS m
  FROM a1 CROSS JOIN generate_series(1, 64) AS gs(i)
  GROUP BY cent_id, i),
cent2 AS (
  SELECT s.cent_id,
         coalesce(c.cvec, s.cvec) AS cvec
  FROM seeds s LEFT JOIN (
    SELECT cent_id, list(m ORDER BY i) AS cvec FROM means GROUP BY cent_id
  ) c USING (cent_id)),
a2 AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cent2 c) WHERE rn = 1)
SELECT a.vec_id, e.label
FROM a2 a JOIN embeddings e USING (vec_id)
WHERE NOT EXISTS (
  SELECT 1 FROM a2 b
  WHERE b.cent_id = a.cent_id AND b.vec_id < a.vec_id
    AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.30
)
"""


def q_pq_codes(spark, sf):
    """Product quantization (similarity.pq_train/pq_encode, Jégou et
    al. 2011): 64-dim vectors -> 4 subspaces x 8-entry L2 codebooks
    (one Lloyd round from lowest-id seeds — the semdedup_kmeans
    oracle-expressibility convention), every vector encoded to 4
    codes. Encoding is one map-only codegen projection against the
    literal codebook. Flattened to (vec_id, sub, code) rows (array
    stringification convention)."""
    emb = _t(spark, sf, "embeddings")
    cb = similarity.pq_train(emb, dim=64, m=4, n_codes=8, iters=1)
    enc = similarity.pq_encode(emb, cb, dim=64)
    return enc.select("vec_id", F.posexplode("codes").alias("sub", "code"))


# The PQ replay: subs = 16-dim slices; seeds = the 8 lowest-id
# vectors' slices (code = rank by vec_id, the enumerate order);
# a1/means/cent2 = one Lloyd round with keep-seed-on-empty (the
# SQL_SEMDEDUP_KMEANS mechanics per subspace); codes = final argmin-L2
# assignment, smallest code on ties. Same known tolerance as
# semdedup_kmeans: argmins compare unrounded distances (monotone
# sqrt-vs-squared), stable on the frozen fixture's margins.
_SQL_PQ_CODES_CTE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT unnest([0, 1, 2, 3]) AS sub),
subs AS (
  SELECT vec_id, dims.sub, v[dims.sub*16+1 : dims.sub*16+16] AS subvec
  FROM e CROSS JOIN dims),
seedv AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
seeds AS (
  SELECT dims.sub,
         row_number() OVER (PARTITION BY dims.sub ORDER BY sv.vec_id) - 1
           AS code,
         sv.v[dims.sub*16+1 : dims.sub*16+16] AS cvec
  FROM seedv sv CROSS JOIN dims),
a1 AS (
  SELECT vec_id, sub, subvec, code FROM (
    SELECT u.vec_id, u.sub, u.subvec, sd.code,
           row_number() OVER (PARTITION BY u.vec_id, u.sub
             ORDER BY list_distance(u.subvec, sd.cvec), sd.code) AS rn
    FROM subs u JOIN seeds sd USING (sub)) WHERE rn = 1),
means AS (
  SELECT sub, code, i, avg(subvec[i]) AS m
  FROM a1 CROSS JOIN generate_series(1, 16) AS gs(i)
  GROUP BY sub, code, i),
cent2 AS (
  SELECT sd.sub, sd.code, coalesce(c.cvec, sd.cvec) AS cvec
  FROM seeds sd LEFT JOIN (
    SELECT sub, code, list(m ORDER BY i) AS cvec FROM means GROUP BY sub, code
  ) c USING (sub, code)),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT u.vec_id, u.sub, ct.code,
           row_number() OVER (PARTITION BY u.vec_id, u.sub
             ORDER BY list_distance(u.subvec, ct.cvec), ct.code) AS rn
    FROM subs u JOIN cent2 ct USING (sub)) WHERE rn = 1)
"""

SQL_PQ_CODES = (
    _SQL_PQ_CODES_CTE
    + """
SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code FROM codes
"""
)


def q_pq_adc_topk(spark, sf):
    """Asymmetric-distance PQ search (similarity.pq_adc_topk): the
    query stays full-precision, database vectors cost one LUT lookup
    per subspace — map-only projection + distributed TakeOrdered,
    the corpus never shuffles. Top-10 nearest to vector 0 by
    approximate squared L2."""
    emb = _t(spark, sf, "embeddings")
    cb = similarity.pq_train(emb, dim=64, m=4, n_codes=8, iters=1)
    enc = similarity.pq_encode(emb, cb, dim=64)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.pq_adc_topk(enc, cb, qv, k=10, dim=64)


SQL_PQ_ADC_TOPK = (
    _SQL_PQ_CODES_CTE
    + """,
q AS (SELECT v FROM e WHERE vec_id = 0),
lut AS (
  SELECT ct.sub, ct.code,
         round(pow(list_distance(q.v[ct.sub*16+1 : ct.sub*16+16], ct.cvec), 2),
               6) AS d
  FROM cent2 ct CROSS JOIN q)
SELECT c.vec_id, round(sum(l.d), 6) AS adc
FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
GROUP BY c.vec_id
ORDER BY adc, c.vec_id LIMIT 10
"""
)


def q_html_extract(spark, sf):
    """Web-page -> training-text extraction (functions/text.
    html_to_text): script/style/comment elision, tag strip, entity
    decode (amp last), whitespace collapse — one map-only
    RE2-compatible regexp chain. The corpus is plain text, so each doc
    is wrapped in a deterministic page skeleton (title/style/script/
    comment/attributes/entities all present) that both engines build
    identically."""
    d = _t(spark, sf, "documents")
    html = F.concat(
        F.lit(
            "<html><head><title>T</title><style>body { color: red; }"
            "</style><script>var x = 1 < 2;</script></head>"
            "<body><!-- note --><h1>"
        ),
        F.substring("text", 1, 20),
        F.lit('</h1><p class="a">'),
        F.replace(F.substring("text", 21, 60), F.lit(" "), F.lit("&nbsp;")),
        F.lit("</p><p>&quot;q&quot; &amp;amp; &#39;s&#39;</p></body></html>"),
    )
    return d.select("doc_id", TX.html_to_text(html).alias("text_clean"))


SQL_HTML_EXTRACT = """
WITH h AS (
  SELECT doc_id,
    '<html><head><title>T</title><style>body { color: red; }</style>'
    || '<script>var x = 1 < 2;</script></head><body><!-- note --><h1>'
    || substr(text, 1, 20) || '</h1><p class="a">'
    || replace(substr(text, 21, 60), ' ', '&nbsp;')
    || '</p><p>&quot;q&quot; &amp;amp; &#39;s&#39;</p></body></html>' AS html
  FROM documents),
s1 AS (SELECT doc_id,
         regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g') AS t
       FROM h),
s2 AS (SELECT doc_id,
         regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
s5 AS (SELECT doc_id,
         replace(replace(replace(replace(replace(replace(
           t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&nbsp;', ' '), '&amp;', '&') AS t
       FROM s4)
SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text_clean FROM s5
"""


def q_highlight_snippet(spark, sf):
    """Search-hit highlighting (serving/query.highlight): snippet of
    +-20 chars around the first occurrence of the earliest query
    token, matched span wrapped <em>...</em>, NULL when nothing
    matches — map-only codegen string expressions with the
    (position, token) array_min tie rule."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        SQ.highlight("text", "spark vector data engine", context_chars=20)
        .alias("snippet"),
    )


# argmin over (pos, token-index) encoded as pos*4+idx (idx < 4, so the
# encoding is order-isomorphic); token lengths decoded by index.
SQL_HIGHLIGHT_SNIPPET = """
WITH pos AS (
  SELECT doc_id, text,
    coalesce(nullif(strpos(lower(text), 'data'), 0), 2147483648) AS p0,
    coalesce(nullif(strpos(lower(text), 'engine'), 0), 2147483648) AS p1,
    coalesce(nullif(strpos(lower(text), 'spark'), 0), 2147483648) AS p2,
    coalesce(nullif(strpos(lower(text), 'vector'), 0), 2147483648) AS p3
  FROM documents),
best AS (
  SELECT doc_id, text,
         least(p0*4 + 0, p1*4 + 1, p2*4 + 2, p3*4 + 3) AS enc
  FROM pos),
dec AS (
  SELECT doc_id, text, enc // 4 AS p,
         CASE enc % 4 WHEN 0 THEN 4 WHEN 1 THEN 6 WHEN 2 THEN 5
                      ELSE 6 END AS tl
  FROM best)
SELECT doc_id,
  CASE WHEN p < 2147483648 THEN
    substr(text, greatest(p - 20, 1), p - greatest(p - 20, 1))
    || '<em>' || substr(text, p, tl) || '</em>'
    || substr(text, p + tl, 20)
  END AS snippet
FROM dec
"""


def q_length_batches(spark, sf):
    """Length-bucketed batch assignment (functions/sampling.
    length_batches): power-of-two length buckets via an exact integer
    comparison chain (no float log2), batch numbers contiguous within
    (bucket, id%shards) in (length, id) order — one window shuffle,
    sharded so no bucket ever drags the corpus through one task."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        length_batches,
    )

    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return length_batches(d, "doc_id", "n_chars", batch_size=16, shards=4)


SQL_LENGTH_BATCHES = """
WITH b AS (
  SELECT doc_id, n_chars,
    CAST(CASE WHEN n_chars <= 16 THEN 16 WHEN n_chars <= 32 THEN 32
         WHEN n_chars <= 64 THEN 64 WHEN n_chars <= 128 THEN 128
         WHEN n_chars <= 256 THEN 256 WHEN n_chars <= 512 THEN 512
         WHEN n_chars <= 1024 THEN 1024 WHEN n_chars <= 2048 THEN 2048
         WHEN n_chars <= 4096 THEN 4096 WHEN n_chars <= 8192 THEN 8192
         WHEN n_chars <= 16384 THEN 16384 WHEN n_chars <= 32768 THEN 32768
         WHEN n_chars <= 65536 THEN 65536 ELSE -1 END AS BIGINT) AS bucket,
    CAST(doc_id % 4 AS INT) AS shard
  FROM documents)
SELECT doc_id, n_chars, bucket, shard,
  CAST((row_number() OVER (PARTITION BY bucket, shard
                           ORDER BY n_chars, doc_id) - 1) // 16 AS BIGINT)
    AS batch_no
FROM b
"""


def q_sft_spans(spark, sf):
    """Assistant-content loss-mask spans (operators/chat.
    render_chat_with_spans): SFT computes loss only on assistant
    tokens, so the trainer needs each assistant turn's (start, end)
    character offsets inside the rendered string — produced by the
    render fold's own running length, map-only. Flattened to
    (doc_id, span_no, s, e); the oracle recomputes every offset in
    closed form from the synthesis arithmetic."""
    d = _synth_chat(_t(spark, sf, "documents"))
    o = chat.render_chat_with_spans("turns")
    return d.select(
        "doc_id", F.posexplode(o["spans"]).alias("span_no", "sp")
    ).select(
        "doc_id",
        "span_no",
        F.col("sp.s").alias("s"),
        F.col("sp.e").alias("e"),
    )


# Rendered block i = '<|im_start|>'(12) + role + '\n' + content +
# '<|im_end|>'(10) + '\n'  ->  block_len = 24 + len(role) + len(content);
# content of block i starts at prefix(blocks<i) + 12 + len(role) + 2
# (the \n plus 1-based indexing) = prefix + 14 + len(role).
SQL_SFT_SPANS = """
WITH t AS (
  SELECT doc_id, text,
         greatest(CAST(floor(length(text)/4) AS INT), 1) AS q,
         CAST(2 + doc_id % 3 AS INT) AS n,
         doc_id % 7 = 0 AS sys0,
         doc_id % 5 = 0 AS asst2
  FROM documents),
c AS (
  SELECT doc_id, n, asst2,
         CASE WHEN sys0 THEN 6 ELSE 4 END AS rl0,
         CASE WHEN asst2 THEN 9 ELSE 4 END AS rl2,
         coalesce(length(substr(text, 1, q)), 0) AS cl0,
         coalesce(length(substr(text, q+1, q)), 0) AS cl1,
         coalesce(length(substr(text, 2*q+1, q)), 0) AS cl2,
         coalesce(length(substr(text, 3*q+1, q)), 0) AS cl3
  FROM t),
b AS (
  SELECT doc_id, n, asst2, cl1, cl2, cl3, rl2,
         24 + rl0 + cl0 AS b0,
         24 + 9 + cl1 AS b1,
         24 + rl2 + cl2 AS b2
  FROM c),
spans AS (
  SELECT doc_id, 0 AS span_no, b0 + 23 AS s, b0 + 23 + cl1 AS e FROM b
  UNION ALL
  SELECT doc_id, 1, b0 + b1 + 23, b0 + b1 + 23 + cl2
  FROM b WHERE n >= 3 AND asst2
  UNION ALL
  SELECT doc_id,
         1 + CASE WHEN asst2 THEN 1 ELSE 0 END,
         b0 + b1 + b2 + 23, b0 + b1 + b2 + 23 + cl3
  FROM b WHERE n >= 4)
SELECT doc_id, CAST(span_no AS INT) AS span_no,
       CAST(s AS INT) AS s, CAST(e AS INT) AS e
FROM spans
"""


def q_mmr_rerank(spark, sf):
    """MMR diversified reranking (similarity.mmr_rerank, Carbonell &
    Goldstein 1998): greedy argmax of 0.5*relevance - 0.5*max-sim-to-
    selected over the whole embedding corpus, k=4 — candidates stay
    distributed, each round is a map-side score against <= k literal
    vectors + a TakeOrdered(1); only winners are collected. All
    similarities rounded 6dp before score arithmetic (the
    semdedup_kmeans determinism convention)."""
    emb = _t(spark, sf, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.mmr_rerank(emb, qv, k=4, lam=0.5, dim=64)


SQL_MMR_RERANK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
rel AS (
  SELECT vec_id, v, round(list_cosine_similarity(v, qv), 6) AS rel
  FROM e, q),
p1 AS (
  SELECT vec_id, v, round(0.5*rel, 6) AS mmr FROM rel
  ORDER BY round(0.5*rel, 6) DESC, vec_id LIMIT 1),
s2 AS (
  SELECT r.vec_id, r.v, r.rel,
         round(0.5*r.rel
               - 0.5*round(list_cosine_similarity(r.v, p1.v), 6), 6) AS mmr
  FROM rel r, p1 WHERE r.vec_id <> p1.vec_id),
p2 AS (SELECT vec_id, v, rel, mmr FROM s2 ORDER BY mmr DESC, vec_id LIMIT 1),
s3 AS (
  SELECT r.vec_id, r.v, r.rel,
         round(0.5*r.rel - 0.5*greatest(
           round(list_cosine_similarity(r.v, p1.v), 6),
           round(list_cosine_similarity(r.v, p2.v), 6)), 6) AS mmr
  FROM rel r, p1, p2
  WHERE r.vec_id <> p1.vec_id AND r.vec_id <> p2.vec_id),
p3 AS (SELECT vec_id, v, rel, mmr FROM s3 ORDER BY mmr DESC, vec_id LIMIT 1),
s4 AS (
  SELECT r.vec_id, r.v,
         round(0.5*r.rel - 0.5*greatest(
           round(list_cosine_similarity(r.v, p1.v), 6),
           round(list_cosine_similarity(r.v, p2.v), 6),
           round(list_cosine_similarity(r.v, p3.v), 6)), 6) AS mmr
  FROM rel r, p1, p2, p3
  WHERE r.vec_id <> p1.vec_id AND r.vec_id <> p2.vec_id
    AND r.vec_id <> p3.vec_id),
p4 AS (SELECT vec_id, mmr FROM s4 ORDER BY mmr DESC, vec_id LIMIT 1)
SELECT vec_id, CAST(1 AS INT) AS mmr_rank, mmr FROM p1
UNION ALL SELECT vec_id, 2, mmr FROM p2
UNION ALL SELECT vec_id, 3, mmr FROM p3
UNION ALL SELECT vec_id, 4, mmr FROM p4
"""


def q_ann_recall(spark, sf):
    """ANN quality evaluation (similarity.recall_at_k): recall@10 of
    the sign-bucket ANN against exact brute force for three query
    vectors — the measure-don't-guess loop every ANN deployment runs.
    The whole evaluation is ONE fused corpus scan
    (similarity.ann_recall_eval): exact and same-bucket top-k lists
    accumulate in the same salted two-phase aggregate, recall is an
    array-intersect expression (r12 verdict task #5: the previous
    harness ran three separate brute-force scans plus three
    single-query probes)."""
    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    return similarity.ann_recall_eval(emb, qs, k=10, dim=64)


SQL_ANN_RECALL = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings),
qs AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket
       FROM b WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, b.vec_id,
         round(list_cosine_similarity(b.v, q.qv), 6) AS c,
         b.bucket, q.qbucket
  FROM b CROSS JOIN qs q),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
    FROM scored) WHERE rn <= 10),
approx AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
    FROM scored WHERE bucket = qbucket) WHERE rn <= 10)
SELECT e.q_id,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS recall
FROM exact e LEFT JOIN approx a USING (q_id, vec_id)
GROUP BY e.q_id
"""


def q_pack_sft(spark, sf):
    """Packed SFT examples (operators/chat.pack_sft): rendered
    conversations laid out by the deterministic concatenate-then-chunk
    packer, every assistant loss-mask span shifted to its in-pack
    position — the render/pack/mask composition that must move as one
    unit. The oracle recomputes the rendered lengths, the pack layout
    hash, and every shifted offset in closed form."""
    d = _synth_chat(_t(spark, sf, "documents"))
    return chat.pack_sft(
        d, "doc_id", "turns", target_chars=600, n_shards=4, sep="\n"
    )


SQL_PACK_SFT_TEMPLATE = """
WITH t AS (
  SELECT doc_id, text,
         greatest(CAST(floor(length(text)/4) AS INT), 1) AS q,
         CAST(2 + doc_id % 3 AS INT) AS n,
         doc_id % 7 = 0 AS sys0,
         doc_id % 5 = 0 AS asst2
  FROM documents),
c AS (
  SELECT doc_id, n, asst2,
         CASE WHEN sys0 THEN 6 ELSE 4 END AS rl0,
         CASE WHEN asst2 THEN 9 ELSE 4 END AS rl2,
         coalesce(length(substr(text, 1, q)), 0) AS cl0,
         coalesce(length(substr(text, q+1, q)), 0) AS cl1,
         coalesce(length(substr(text, 2*q+1, q)), 0) AS cl2,
         coalesce(length(substr(text, 3*q+1, q)), 0) AS cl3
  FROM t),
b AS (
  SELECT doc_id, n, asst2, cl1, cl2, cl3,
         24 + rl0 + cl0 AS b0,
         24 + 9 + cl1 AS b1,
         24 + rl2 + cl2 AS b2,
         33 + cl3 AS b3
  FROM c),
r AS (
  SELECT doc_id, n, asst2, cl1, cl2, cl3, b0, b1, b2, b3,
         b0 + b1 + CASE WHEN n >= 3 THEN b2 ELSE 0 END
                 + CASE WHEN n >= 4 THEN b3 ELSE 0 END AS rlen,
         {unit} AS u
  FROM b),
a AS (SELECT *, CAST(floor(u * 4) AS INT) AS shard FROM r),
o AS (
  SELECT *,
         CAST(sum(rlen) OVER (PARTITION BY shard ORDER BY u, doc_id
                              ROWS UNBOUNDED PRECEDING) - rlen AS BIGINT)
           AS "offset"
  FROM a),
p AS (
  SELECT doc_id, shard,
         CAST(floor("offset" / 600.0) AS BIGINT) AS bin, "offset"
  FROM o),
p2 AS (
  SELECT doc_id, shard, bin,
         ("offset" - min("offset") OVER (PARTITION BY shard, bin))
         + (row_number() OVER (PARTITION BY shard, bin ORDER BY "offset")
            - 1) AS char_base
  FROM p),
spans AS (
  SELECT doc_id, 0 AS span_no, b0 + 23 AS s, b0 + 23 + cl1 AS e FROM b
  UNION ALL
  SELECT doc_id, 1, b0 + b1 + 23, b0 + b1 + 23 + cl2
  FROM b WHERE n >= 3 AND asst2
  UNION ALL
  SELECT doc_id,
         1 + CASE WHEN asst2 THEN 1 ELSE 0 END,
         b0 + b1 + b2 + 23, b0 + b1 + b2 + 23 + cl3
  FROM b WHERE n >= 4)
SELECT p2.shard, p2.bin, s.doc_id, CAST(s.span_no AS INT) AS span_no,
       CAST(s.s + p2.char_base AS INT) AS s,
       CAST(s.e + p2.char_base AS INT) AS e
FROM p2 JOIN spans s USING (doc_id)
"""


_UNIT_SQL = (
    "(CAST(('0x' || substr(md5('{salt}|' || CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT)"
    " / 1152921504606846976.0)"
)

SQL_PACK_SFT = SQL_PACK_SFT_TEMPLATE.format(
    unit=_UNIT_SQL.format(salt="shuffle", key="doc_id")
)

SQL_GROUP_SPLIT = SQL_GROUP_SPLIT_TEMPLATE.format(
    unit=_UNIT_SQL.format(salt="split", key="group_id")
)


def q_repetition_stats(spark, sf):
    """Gopher-style repetition filters: duplicate-token fraction and
    top-trigram mass per document (functions/text.py:repetition_stats)."""
    return TX.repetition_stats(_t(spark, sf, "documents"), "text", "doc_id", n=3)


SQL_REPETITION_STATS = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents),
tri AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS gram
  FROM toks),
cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM tri WHERE gram <> '' GROUP BY 1, 2),
rep AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM cnt GROUP BY doc_id),
tk AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct FROM toks)
SELECT tk.doc_id, n_tokens,
       round(1.0 - n_distinct::DOUBLE / greatest(n_tokens, 1), 6) AS dup_token_frac,
       round(top_c::DOUBLE / tot, 6) AS top_ngram_frac
FROM tk JOIN rep ON tk.doc_id = rep.doc_id
"""


def q_dataset_split(spark, sf):
    """Deterministic train/val/test split (functions/sampling): the
    split label is a pure function of md5(doc_id), so membership is
    stable across engines/partitionings/reruns — the oracle reproduces
    the exact assignment, not just the proportions."""
    from platypus_ingestion_plugins_spark.functions.sampling import hash_split

    d = _t(spark, sf, "documents")
    return (
        hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# thresholds follow hash_split's sorted-key order: test(0.1) -> train(0.9) -> val
SQL_DATASET_SPLIT = f"""
WITH h AS (
  SELECT lang, {_UNIT_SQL.format(salt="split", key="doc_id")} AS u FROM documents)
SELECT lang,
       CASE WHEN u < 0.1 THEN 'test' WHEN u < 0.9 THEN 'train' ELSE 'val' END AS split,
       count(*) AS n_docs
FROM h GROUP BY 1, 2
"""


def q_stratified_sample(spark, sf):
    """Per-language deterministic sampling: en keeps 50%, de 20%,
    everything else 10%. Exact row membership (the oracle returns the
    same doc_ids), one codegen filter, no RNG."""
    from platypus_ingestion_plugins_spark.functions.sampling import stratified_sample

    d = _t(spark, sf, "documents")
    return stratified_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.2}, default_fraction=0.1
    ).select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE {_UNIT_SQL.format(salt="strata", key="doc_id")}
      < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.2 ELSE 0.1 END)
"""


def q_temperature_mix(spark, sf):
    """Temperature-based domain mixing (XLM-R-style alpha-sampling):
    per-source keep rates min(1, f*N*n^a / (Z*n)) computed from one
    count aggregate, membership by the deterministic content hash —
    the oracle reproduces the exact sampled row set
    (functions/sampling.py:temperature_mix)."""
    from platypus_ingestion_plugins_spark.functions.sampling import temperature_mix

    d = _t(spark, sf, "documents")
    return temperature_mix(
        d, "doc_id", "source", alpha=0.5, total_fraction=0.3
    ).select("doc_id", "source")


SQL_TEMPERATURE_MIX = f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
t AS (SELECT sum(n) AS n_tot, sum(pow(n, 0.5)) AS z FROM c),
r AS (SELECT source, least(1.0, 0.3 * n_tot * pow(n, 0.5) / (z * n)) AS rate
      FROM c, t)
SELECT doc_id, d.source AS source
FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.source
WHERE {_UNIT_SQL.format(salt="mix", key="doc_id")} < rate
"""


def q_text_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.subword_count_estimate("text").alias("n_subwords"),
        TX.quality_score("text").alias("quality"),
        TX.fingerprint("text").alias("fingerprint"),
    )


SQL_TEXT_STATS = """
WITH b AS (
  SELECT doc_id, text, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
  FROM documents)
SELECT doc_id,
  len(toks) AS n_tokens,
  CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_subwords,
  round(((CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN n_chars::DOUBLE / greatest(len(toks), 1) >= 3.0
               AND n_chars::DOUBLE / greatest(len(toks), 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
       + alpha::DOUBLE / greatest(n_chars, 1)) / 3.0, 6) AS quality,
  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
FROM b
"""


_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein"],
    "fr": ["le", "la", "de", "et", "un", "est", "que"],
}


def q_text_language_id(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", TX.language_id("text").alias("pred_lang"))


def _lang_sql() -> str:
    scores = ",\n".join(
        "  len(list_filter(toks, x -> list_contains({lst}, x))) AS s_{lang}".format(
            lst="[" + ",".join(f"'{w}'" for w in ws) + "]", lang=lang
        )
        for lang, ws in _STOP.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in _STOP) + ")"
    case = " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang in _STOP
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents),
s AS (SELECT doc_id,
{scores}
  FROM t),
b AS (SELECT doc_id, s_en, s_es, s_de, s_fr, {best} AS best FROM s)
SELECT doc_id, CASE {case} ELSE 'und' END AS pred_lang FROM b
"""


SQL_TEXT_LANGUAGE_ID = _lang_sql()


def q_text_quality_filter(spark, sf):
    """The composition a training-data pipeline actually runs: keep
    English documents above a quality floor and a token floor. Pure
    Catalyst expressions end to end — the filter evaluates inside the
    scan's WholeStageCodegen, no shuffle at all."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.quality_score("text").alias("quality"),
        TX.language_id("text").alias("pred_lang"),
    )
    return scored.filter(
        (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.6)
        & (F.col("n_tokens") >= 50)
    )


def _quality_filter_sql() -> str:
    scores = ",\n".join(
        "  len(list_filter(toks, x -> list_contains({lst}, x))) AS s_{lang}".format(
            lst="[" + ",".join(f"'{w}'" for w in ws) + "]", lang=lang
        )
        for lang, ws in _STOP.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in _STOP) + ")"
    case = " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang in _STOP
    )
    return f"""
WITH b AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
  FROM documents),
q AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
    round(((CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN n_chars::DOUBLE / greatest(len(toks), 1) >= 3.0
                 AND n_chars::DOUBLE / greatest(len(toks), 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
         + alpha::DOUBLE / greatest(n_chars, 1)) / 3.0, 6) AS quality
  FROM b),
s AS (SELECT doc_id, n_tokens, quality,
{scores}
  FROM q),
l AS (SELECT doc_id, n_tokens, quality, {best} AS best,
             s_en, s_es, s_de, s_fr FROM s)
SELECT doc_id, n_tokens, quality,
       CASE {case} ELSE 'und' END AS pred_lang
FROM l
WHERE (CASE {case} ELSE 'und' END) = 'en'
  AND quality >= 0.6 AND n_tokens >= 50
"""


SQL_TEXT_QUALITY_FILTER = _quality_filter_sql()


def q_decontam_flags(spark, sf):
    """Benchmark decontamination audit: training docs sharing any
    token n-gram with the held-out 'benchmark' slice (doc_id % 101 ==
    0 stands in for an eval set), with the contaminated-gram count.
    The benchmark gram set broadcasts (eval sets are MBs against a
    100 TB corpus), so the training side is a map-side join; the only
    shuffle is the per-doc count. n=3 fits this synthetic word-salad
    corpus; real runs use 8-13 (see operators/decontam.py)."""
    from platypus_ingestion_plugins_spark.operators import decontam

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 101 == 0)
    train = d.filter(F.col("doc_id") % 101 != 0)
    return decontam.contaminated_docs(train, bench, "text", "doc_id", n=3)


SQL_DECONTAM_FLAGS = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks),
shf AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
bench AS (SELECT DISTINCT shingle FROM shf WHERE doc_id % 101 = 0)
SELECT f.doc_id, count(*) AS n_contaminated
FROM shf f JOIN bench USING (shingle)
WHERE f.doc_id % 101 <> 0
GROUP BY 1
"""


def q_line_dedup(spark, sf):
    """CCNet-style line-level boilerplate scrub (dedup.line_dedup):
    every document gets a fabricated shared footer (newsletter line,
    blank line, cookie line; odd ids also a promo line) — the lines
    duplicated across >= 2 docs vanish, each doc's unique body
    survives, blank lines are kept as structure. Exercised through
    full reassembly: the output TEXT must match, not just counts."""
    d = _t(spark, sf, "documents")
    boiler = F.concat(
        F.col("text"),
        F.lit("\nSubscribe to our newsletter\n\nCookie policy: accept"),
    )
    t2 = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(boiler, F.lit("\nFollow us on social media")),
    ).otherwise(boiler)
    return dedup.line_dedup(
        d.select("doc_id", t2.alias("text")), "text", "doc_id", min_df=2
    ).select("doc_id", "text", "n_lines", "n_dropped")


SQL_LINE_DEDUP = """
WITH src AS (
  SELECT doc_id,
         text || chr(10) || 'Subscribe to our newsletter' || chr(10)
              || chr(10) || 'Cookie policy: accept'
              || CASE WHEN doc_id % 2 = 1
                      THEN chr(10) || 'Follow us on social media'
                      ELSE '' END AS text
  FROM documents),
split AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM src),
ln AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM split),
keyed AS (
  SELECT doc_id, i - 1 AS line_no, l[i] AS line,
         trim(lower(l[i])) AS k, trim(l[i]) = '' AS blank
  FROM ln),
hot AS (
  SELECT k FROM keyed WHERE NOT blank
  GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
kept AS (
  SELECT doc_id, line_no, line,
         (k IN (SELECT k FROM hot)) AND NOT blank AS dropped
  FROM keyed)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                           chr(10) ORDER BY line_no), '') AS text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM kept GROUP BY doc_id
"""


def q_top_terms_per_group(spark, sf):
    """Corpus-composition report (text.top_terms_per_group): top-5
    tokens of length >= 4 per source — one partial-aggregatable
    (group, token) count shuffle + a group-bounded rank window,
    deterministic (count desc, term asc) ordering."""
    from platypus_ingestion_plugins_spark.functions.text import (
        top_terms_per_group,
    )

    d = _t(spark, sf, "documents")
    return top_terms_per_group(d, "text", "source", k=5, min_token_len=4)


SQL_TOP_TERMS_PER_GROUP = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS term
  FROM documents),
f AS (SELECT source, term FROM tok WHERE length(term) >= 4),
c AS (SELECT source, term, count(*) AS n FROM f GROUP BY 1, 2),
r AS (SELECT source, term, n,
             row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, term) AS rank
      FROM c)
SELECT source, term, n, rank FROM r WHERE rank <= 5
"""


def q_hashed_bow_embedding(spark, sf):
    """Feature-hashing embeddings (text.hashed_bow_embeddings): every
    document gets a 32-dim L2-normalized hashed token-count vector —
    JVM md5 bucketing + Arrow-batched numpy histogram, no vocabulary,
    no model — the bridge from raw text to the similarity/ANN
    operators. Flattened to (doc_id, pos, val) rows because array
    columns stringify differently across engines; the oracle rebuilds
    each bucket count with the same md5-half hash and normalizes
    identically."""
    from platypus_ingestion_plugins_spark.functions.text import (
        hashed_bow_embeddings,
    )

    d = _t(spark, sf, "documents")
    return hashed_bow_embeddings(d, "text", "doc_id", dim=32).select(
        "doc_id", F.posexplode("embedding").alias("pos", "val")
    )


SQL_HASHED_BOW_EMBEDDING = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS t
  FROM documents),
b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 32 AS bucket
  FROM tok),
c AS (SELECT doc_id, bucket, count(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
g AS (
  SELECT d.doc_id, p.pos
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS pos) p),
v AS (
  SELECT g.doc_id, g.pos, coalesce(c.n, 0) AS n
  FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bucket = g.pos),
nrm AS (SELECT doc_id, sqrt(sum(n * n)) AS nn FROM v GROUP BY 1)
SELECT v.doc_id, v.pos,
       round(CASE WHEN nn > 0 THEN n / nn ELSE 0 END, 6) AS val
FROM v JOIN nrm USING (doc_id)
"""


def q_stream_line_dedup(spark, sf):
    """Streaming line-level boilerplate suppression
    (dedup.line_dedup_incremental): documents — carrying the same
    fabricated shared footer as ``line_dedup`` — stream in two
    seq-ordered drops; each micro-batch scrubs every line already seen
    in >= min_df-1 smaller-id documents (accumulated line-count index
    + this batch), appends its own per-key counts to the index, and
    emits the scrubbed documents append-only. First-keeps semantics
    (the line's first document keeps it) because emitted output cannot
    be retracted; under the seq-ordered contract the union of batch
    outputs equals the one-shot computation the oracle runs. The
    count index is PARTITIONED by kb = hash(line_key) % 16 and each
    batch reads only its own buckets (read_line_counts_pruned —
    bounded driver collect, literal partition filters)."""
    import shutil

    from platypus_ingestion_plugins_spark import fs as _fs

    d = _t(spark, sf, "documents")
    boiler = F.concat(
        F.col("text"),
        F.lit("\nSubscribe to our newsletter\n\nCookie policy: accept"),
    )
    t2 = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(boiler, F.lit("\nFollow us on social media")),
    ).otherwise(boiler)
    docs = d.select("doc_id", t2.alias("text"))
    docs_lo, docs_hi = _median_split(docs, "doc_id")

    work = _stream_scratch("stream_linededup_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        idx = os.path.join(work, "index")
        outp = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def handle(batch_df, bid):
            # ONE explode+distinct per batch: the persisted pair set
            # feeds pruning, ranking, and the count append
            pairs = dedup.line_key_pairs(batch_df, "text", "doc_id")
            pairs.persist()
            try:
                # auto_compact every 4th epoch: the policy folds any
                # kb= dir past 4 files (the in-flight epoch rides
                # tagged — exclude_batch_id), so index file count
                # plateaus over unbounded batches; consulting every N
                # batches keeps the listing amortized (VERDICT r9 task
                # #5; plateau proven in
                # test_line_count_auto_compaction_exact_under_replay).
                # The whole-index compaction commit runs FIRST,
                # serially, so the overlapped jobs below build on its
                # snapshot (r16, guide §2.6)
                if bid % 4 == 3 and dedup.line_count_index_exists(
                    spark, idx
                ):
                    dedup.compact_line_count_index(
                        spark, idx, max_files_per_bucket=4,
                        exclude_batch_id=str(bid),
                    )
                # exclude_batch_id=bid: a crashed prior attempt of
                # THIS epoch may have appended already — reading its
                # rows back as "earlier" would over-suppress on replay
                # (code-review r10 #4)
                earlier = (
                    dedup.read_line_counts_pruned(
                        spark, idx, pairs, exclude_batch_id=bid
                    )
                    if dedup.line_count_index_exists(spark, idx)
                    else None
                )
                # batch_id epoch tag: an at-least-once replay of this
                # batch re-appends identical rows, which the reader
                # collapses per (line_key, batch_id) — exact counts.
                # The scrubbed-output write and the count append are
                # independent (the read above excludes epoch bid and
                # pinned its snapshot), so their jobs overlap (§2.6)
                concurrency.overlap_jobs(
                    lambda: (
                        dedup.line_dedup_incremental(
                            batch_df, earlier, "text", "doc_id",
                            min_df=2, pairs=pairs,
                        )
                        .write.mode("append")
                        .parquet(outp)
                    ),
                    lambda: dedup.append_line_count_index(
                        dedup.line_count_keys(
                            batch_df, "text", "doc_id", pairs=pairs
                        ),
                        idx, key_buckets=16, batch_id=bid,
                    ),
                )
            finally:
                pairs.unpersist()

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(handle)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, docs_lo, docs_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=outp)
        # distinct: a replayed batch's re-appended output rows are
        # identical and collapse here (the neardup query's defense)
        return spark.read.parquet(outp).select(
            "doc_id", F.sha2("text", 256).alias("sha_text"),
            "n_lines", "n_dropped",
        ).distinct()
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_LINE_DEDUP = """
WITH src AS (
  SELECT doc_id,
         text || chr(10) || 'Subscribe to our newsletter' || chr(10)
              || chr(10) || 'Cookie policy: accept'
              || CASE WHEN doc_id % 2 = 1
                      THEN chr(10) || 'Follow us on social media'
                      ELSE '' END AS text
  FROM documents),
split AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM src),
ln AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM split),
keyed AS (
  SELECT doc_id, i - 1 AS line_no, l[i] AS line,
         trim(lower(l[i])) AS k, trim(l[i]) = '' AS blank
  FROM ln),
kd AS (SELECT DISTINCT doc_id, k FROM keyed WHERE NOT blank),
rk AS (
  SELECT doc_id, k,
         row_number() OVER (PARTITION BY k ORDER BY doc_id) AS r
  FROM kd),
kept AS (
  SELECT keyed.doc_id, keyed.line_no, keyed.line,
         CASE WHEN keyed.blank THEN FALSE
              ELSE coalesce(rk.r, 1) >= 2 END AS dropped
  FROM keyed LEFT JOIN rk
    ON rk.k = keyed.k AND rk.doc_id = keyed.doc_id)
SELECT doc_id,
       sha256(coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                                  chr(10) ORDER BY line_no), '')) AS sha_text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM kept GROUP BY doc_id
"""


def q_bow_knn(spark, sf):
    """Text-to-retrieval composition proof: raw documents -> hashed
    bag-of-words embeddings (text.hashed_bow_embeddings, no model) ->
    batch k-NN join (similarity.knn_join, broadcast queries + salted
    two-phase top-k merge). Every doc with doc_id % 53 == 0 retrieves
    its top-3 cosine neighbors from the whole corpus — the
    no-learned-embedding retrieval path a fresh corpus gets before any
    model exists. Zero-vector (token-less) docs are excluded on both
    sides: cosine is undefined there in every engine."""
    from platypus_ingestion_plugins_spark.functions.text import (
        hashed_bow_embeddings,
        token_count,
    )

    d = _t(spark, sf, "documents").filter(token_count("text") > 0)
    emb = hashed_bow_embeddings(d, "text", "doc_id", dim=32)
    # embed the query SIDE from the filtered docs, not by filtering
    # the corpus embeddings: the broadcast side is a separate plan and
    # the % 53 predicate cannot push below the embedding kernel, so
    # filtering after would re-embed the whole corpus and discard
    # 52/53 of it
    q_emb = hashed_bow_embeddings(
        d.filter(F.col("doc_id") % 53 == 0), "text", "doc_id", dim=32
    )
    return similarity.knn_join(
        emb, q_emb, k=3, id_col="doc_id", q_id_col="q_id", dim=32,
    )


SQL_BOW_KNN = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS t
  FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) > 0),
b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 32 AS bucket
  FROM tok),
c AS (SELECT doc_id, bucket, count(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
g AS (
  SELECT d.doc_id, p.pos
  FROM (SELECT DISTINCT doc_id FROM b) d
  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS pos) p),
v AS (
  SELECT g.doc_id, g.pos, coalesce(c.n, 0) AS n
  FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bucket = g.pos),
nrm AS (SELECT doc_id, sqrt(sum(n * n)) AS nn FROM v GROUP BY 1),
emb AS (
  SELECT v.doc_id,
         list(round(CASE WHEN nn > 0 THEN n / nn ELSE 0 END, 6)
              ORDER BY v.pos) AS e
  FROM v JOIN nrm USING (doc_id) GROUP BY v.doc_id, nn),
q AS (SELECT doc_id AS q_id, e AS qe FROM emb WHERE doc_id % 53 = 0),
scored AS (
  SELECT q.q_id, emb.doc_id,
         round(list_cosine_similarity(emb.e, q.qe), 6) AS cos_sim
  FROM emb, q),
r AS (
  SELECT q_id, doc_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, doc_id)
           AS knn_rank
  FROM scored)
SELECT q_id, doc_id, cos_sim, knn_rank FROM r WHERE knn_rank <= 3
"""


def q_quality_autocalibrated_filter(spark, sf):
    """Auto-calibrated quality filtering: instead of a fixed global
    floor (which over-prunes clean sources and under-prunes noisy
    ones), each SOURCE keeps its documents at or above its own 25th
    quality percentile — the per-domain threshold real pipelines
    derive per ingest. One grouped exact percentile (at 100 TB:
    approx_percentile, same call shape) broadcast back onto the
    corpus; the filter stays a scan-side predicate. Output counts +
    cutoffs per source so the compare pins both the thresholds and
    the selection."""
    from platypus_ingestion_plugins_spark.functions.text import quality_score

    d = _t(spark, sf, "documents").withColumn("q", quality_score("text"))
    cuts = d.groupBy("source").agg(
        F.round(F.expr("percentile(q, 0.25)"), 6).alias("q_cut")
    )
    kept = d.join(F.broadcast(cuts), "source").filter(
        F.round(F.col("q"), 6) >= F.col("q_cut")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min(F.round("q", 6)).alias("q_min_kept"),
        F.first("q_cut").alias("q_cut"),
    )


SQL_QUALITY_AUTOCAL = """
WITH b AS (
  SELECT source, doc_id, length(text) AS nc,
         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
  FROM documents),
q AS (
  SELECT source, doc_id,
    round(((CASE WHEN nc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN nc::DOUBLE / greatest(len(toks), 1) >= 3.0
                 AND nc::DOUBLE / greatest(len(toks), 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
         + alpha::DOUBLE / greatest(nc, 1)) / 3.0, 6) AS q
  FROM b),
cuts AS (
  SELECT source, round(quantile_cont(q, 0.25), 6) AS q_cut
  FROM q GROUP BY source)
SELECT q.source,
       count(*) AS n_kept,
       min(round(q.q, 6)) AS q_min_kept,
       any_value(c.q_cut) AS q_cut
FROM q JOIN cuts c USING (source)
WHERE round(q.q, 6) >= c.q_cut
GROUP BY q.source
"""


def q_fuzzy_join(spark, sf):
    """Edit-distance entity resolution (dedup.fuzzy_join, block="both"
    — VERDICT r9 task #3): the distinct part-name catalog matched
    against a deterministically corrupted vendor copy where HALF the
    entities carry a LEADING-char typo (first char -> 'y', invisible
    to prefix blocking) and half a trailing typo (last char -> 'y',
    invisible to suffix blocking). The two-pass prefix+suffix block
    union recovers both corruption shapes; either single pass would
    lose ~half the twins, so the hash check verifies the recall the
    second pass adds, not just the old prefix path."""
    p = _t(spark, sf, "part")
    entities = p.groupBy("p_name").agg(F.min("p_partkey").alias("entity_id"))
    vendor = entities.select(
        F.col("entity_id").alias("vendor_id"),
        F.when(
            F.col("entity_id") % 2 == 0,
            F.concat(F.lit("y"), F.expr("substring(p_name, 2, length(p_name))")),
        )
        .otherwise(
            F.concat(
                F.expr("substring(p_name, 1, length(p_name) - 1)"), F.lit("y")
            )
        )
        .alias("vendor_name"),
    )
    return dedup.fuzzy_join(
        entities.withColumnRenamed("p_name", "name"), vendor,
        "name", "vendor_name", "entity_id", "vendor_id",
        max_dist=3, block_prefix=3, block="both",
    )


SQL_FUZZY_JOIN = """
WITH entities AS (
  SELECT p_name AS name, min(p_partkey) AS entity_id FROM part GROUP BY 1),
vendor AS (
  SELECT entity_id AS vendor_id,
         CASE WHEN entity_id % 2 = 0
              THEN 'y' || substr(name, 2)
              ELSE substr(name, 1, length(name) - 1) || 'y'
         END AS vendor_name
  FROM entities)
SELECT e.entity_id, v.vendor_id,
       levenshtein(e.name, v.vendor_name) AS dist
FROM entities e JOIN vendor v
  ON lower(substr(e.name, 1, 3)) = lower(substr(v.vendor_name, 1, 3))
WHERE levenshtein(e.name, v.vendor_name) <= 3
UNION
SELECT e.entity_id, v.vendor_id,
       levenshtein(e.name, v.vendor_name) AS dist
FROM entities e JOIN vendor v
  ON lower(right(e.name, 3)) = lower(right(v.vendor_name, 3))
WHERE levenshtein(e.name, v.vendor_name) <= 3
"""


def q_pipeline_clean_corpus(spark, sf):
    """The COMPOSED hygiene preset (pipelines.clean_corpus), oracle-
    checked end to end: NFC normalize -> exact dedup (min-id) ->
    MinHash-LSH near-dup (min-id per component) -> quality floor ->
    decontamination against a held-out benchmark slice. The corpus is
    deterministically DE-composed first (a -> a + U+0301, the
    text_normalize trick) so stage 1 does real work and the
    composed-form hashes only match if both engines normalize
    identically; doc_id % 101 == 0 stands in for the eval set. Output
    hashes the surviving normalized text, so a wrong stage ORDER (the
    contract this preset encodes) breaks the compare, not just a
    wrong stage."""
    from platypus_ingestion_plugins_spark.pipelines import clean_corpus

    d = _t(spark, sf, "documents")
    d2 = d.withColumn("text", F.regexp_replace("text", "a", "a\u0301"))
    bench = d2.filter(F.col("doc_id") % 101 == 0).select("doc_id", "text")
    train = d2.filter(F.col("doc_id") % 101 != 0)
    out = clean_corpus(
        train, benchmark=bench, min_quality=0.3,
        near_dup_threshold=0.1, shingle_n=3, decontam_n=4,
    )
    return out.select(
        "doc_id", F.sha2("text", 256).alias("sha_text"),
        "lang", "source", "n_chars",
    )


SQL_PIPELINE_CLEAN_CORPUS = f"""
WITH RECURSIVE
t0 AS (
  SELECT doc_id, nfc_normalize(replace(text, 'a', 'a' || chr(769))) AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 101 <> 0),
bench_t AS (
  SELECT doc_id, nfc_normalize(replace(text, 'a', 'a' || chr(769))) AS text
  FROM documents WHERE doc_id % 101 = 0),
exmin AS (SELECT min(doc_id) AS doc_id FROM t0 GROUP BY text),
t1 AS (SELECT t0.* FROM t0 JOIN exmin USING (doc_id)),
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM t1),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-2, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks),
shf AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
sigs AS (
  SELECT doc_id,
{_MINHASH_COLS}
  FROM shf GROUP BY doc_id),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({_BAND_COND})),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shf a JOIN shf b USING (shingle)
  WHERE a.doc_id < b.doc_id
    AND (a.doc_id, b.doc_id) IN (SELECT (id_a, id_b) FROM cands)
  GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b
  WHERE round(n_common::DOUBLE / (na.n_sh + nb.n_sh - n_common), 6) >= 0.1),
e AS (SELECT id_a AS src, id_b AS dst FROM j
      UNION SELECT id_b, id_a FROM j),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM t1
  UNION
  SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
labels AS (SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id),
t2 AS (SELECT t1.* FROM t1 JOIN labels USING (doc_id)
       WHERE doc_id = labels.group_id),
q AS (
  SELECT doc_id, length(text) AS nc,
         len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS ntok,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
  FROM t2),
t3 AS (
  SELECT t2.* FROM t2 JOIN q USING (doc_id)
  WHERE round(((CASE WHEN q.nc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN q.nc::DOUBLE / greatest(q.ntok, 1) >= 3.0
              AND q.nc::DOUBLE / greatest(q.ntok, 1) <= 12.0 THEN 1.0 ELSE 0.0 END)
      + q.alpha::DOUBLE / greatest(q.nc, 1)) / 3.0, 6) >= 0.3),
btoks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS t
  FROM bench_t),
bsh AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-3, 1)),
             i -> array_to_string(t[i:i+3], ' ')))) AS shingle
  FROM btoks),
bgrams AS (SELECT shingle FROM bsh WHERE shingle <> ''),
g4 AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t)-3, 1)),
             i -> array_to_string(t[i:i+3], ' ')))) AS shingle
  FROM toks),
contaminated AS (
  SELECT DISTINCT f.doc_id FROM g4 f
  JOIN bgrams USING (shingle) WHERE f.shingle <> '')
SELECT doc_id, sha256(text) AS sha_text, lang, source, n_chars
FROM t3 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


def q_pii_scrub(spark, sf):
    """PII audit + redaction: span counts and the scrubbed string,
    all codegen regexp expressions riding the scan — no UDF, no
    shuffle (see functions/pii.py for the Java/RE2-common pattern
    constraint that makes the SQL oracle byte-exact). The synthetic
    corpus carries no contact-shaped text, so the query fabricates
    deterministic PII spans from customer keys (conditionally per
    row, so counts vary 0/1 per type) — the detectors and redaction
    chain are the product under test, the text is scaffolding."""
    from platypus_ingestion_plugins_spark.functions import pii

    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")

    def num(expr, width):
        return F.lpad(expr.cast("string"), width, "0")

    email = F.concat(F.lit("user"), k.cast("string"), F.lit("@example.com"))
    phone = F.concat_ws(
        "-", num(k % 90 + 10, 2), num((k * 7) % 1000, 3),
        num((k * 13) % 1000, 3), num((k * 31) % 10000, 4),
    )
    ssn = F.concat_ws(
        "-", num(k % 1000, 3), num(k % 100, 2), num(k % 10000, 4)
    )
    ip = F.concat_ws(
        ".", (k % 256).cast("string"), ((k * 3) % 256).cast("string"),
        ((k * 5) % 256).cast("string"), ((k * 7) % 256).cast("string"),
    )
    src = F.concat_ws(
        " ",
        F.lit("contact"), F.col("c_name"), F.lit("at"),
        F.when(k % 3 == 0, email).otherwise(F.lit("")),
        F.when(k % 4 == 0, phone).otherwise(F.lit("")),
        F.when(k % 7 == 0, ssn).otherwise(F.lit("")),
        F.when(k % 5 == 0, ip).otherwise(F.lit("")),
        F.lit("segment"), F.col("c_mktsegment"),
    )
    return c.select(
        "c_custkey",
        pii.pii_counts(src).alias("pii"),
        pii.redact_pii(src).alias("redacted"),
    ).select(
        "c_custkey",
        F.col("pii.n_email").alias("n_email"),
        F.col("pii.n_phone").alias("n_phone"),
        F.col("pii.n_ssn").alias("n_ssn"),
        F.col("pii.n_ip").alias("n_ip"),
        "redacted",
    )


SQL_PII_SCRUB = """
WITH s AS (
  SELECT c_custkey,
         concat_ws(' ', 'contact', c_name, 'at',
           CASE WHEN c_custkey % 3 = 0
                THEN 'user' || c_custkey || '@example.com' ELSE '' END,
           CASE WHEN c_custkey % 4 = 0
                THEN lpad((c_custkey % 90 + 10)::VARCHAR, 2, '0') || '-' ||
                     lpad(((c_custkey * 7) % 1000)::VARCHAR, 3, '0') || '-' ||
                     lpad(((c_custkey * 13) % 1000)::VARCHAR, 3, '0') || '-' ||
                     lpad(((c_custkey * 31) % 10000)::VARCHAR, 4, '0')
                ELSE '' END,
           CASE WHEN c_custkey % 7 = 0
                THEN lpad((c_custkey % 1000)::VARCHAR, 3, '0') || '-' ||
                     lpad((c_custkey % 100)::VARCHAR, 2, '0') || '-' ||
                     lpad((c_custkey % 10000)::VARCHAR, 4, '0')
                ELSE '' END,
           CASE WHEN c_custkey % 5 = 0
                THEN (c_custkey % 256)::VARCHAR || '.' ||
                     ((c_custkey * 3) % 256)::VARCHAR || '.' ||
                     ((c_custkey * 5) % 256)::VARCHAR || '.' ||
                     ((c_custkey * 7) % 256)::VARCHAR
                ELSE '' END,
           'segment', c_mktsegment) AS txt
  FROM customer)
SELECT c_custkey,
       len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(txt, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
       len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
       len(regexp_extract_all(txt, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ip,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
         '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS redacted
FROM s
"""


def q_unigram_logprob(spark, sf):
    """CCNet-style perplexity proxy (Wenzek et al. 2020): mean token
    log-prob per document under the corpus's OWN unigram LM — train
    (one token-count aggregate, vocab capped at 1024 so OOV smoothing
    is genuinely exercised at every SF) and score (broadcast model,
    map-side join) in one plan. 6-dp rounding absorbs engine libm and
    summation-order ulps (same rationale as fulltext_tfidf)."""
    from platypus_ingestion_plugins_spark.functions import lm

    d = _t(spark, sf, "documents")
    model, totals = lm.unigram_model(d, "text", vocab_size=1024)
    scored = lm.doc_logprob(d, model, totals, "text", "doc_id", alpha=0.5)
    return scored.select(
        "doc_id", F.round("mean_logp", 6).alias("mean_logp"), "n_tokens"
    )


SQL_UNIGRAM_LOGPROB = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                    x -> x <> '')) AS tok
  FROM documents),
freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM freqs),
vocab AS (SELECT tok, cnt FROM freqs ORDER BY cnt DESC, tok LIMIT 1024),
model AS (SELECT tok, ln(cnt::DOUBLE) - ln(total::DOUBLE) AS logp FROM vocab, tot)
SELECT doc_id,
       round(sum(coalesce(m.logp, ln(0.5) - ln(t.total::DOUBLE))) / count(*), 6)
         AS mean_logp,
       count(*) AS n_tokens
FROM toks LEFT JOIN model m USING (tok), tot t
GROUP BY doc_id
"""


def q_shuffle_shards(spark, sf):
    """Deterministic corpus shuffle: every document assigned a shard
    and a within-shard position as a pure function of (doc_id, salt) —
    the reproducible-training-order contract (operators/export.py).
    The oracle replays the identical permutation from the same md5
    arithmetic, proving engine/partitioning independence."""
    from platypus_ingestion_plugins_spark.operators.export import shuffle_positions

    d = _t(spark, sf, "documents").select("doc_id")
    return shuffle_positions(d, "doc_id", n_shards=8)


SQL_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id, {_UNIT_SQL.format(salt="shuffle", key="doc_id")} AS u FROM documents),
a AS (SELECT doc_id, CAST(floor(u * 8) AS INT) AS shard, u FROM h)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) - 1 AS pos
FROM a
"""


def q_pack_bins(spark, sf):
    """Sequence packing for pre-training: documents in deterministic
    shuffle order form a token stream per shard, chunked into 512-token
    context windows — each doc's stream offset and starting bin are
    pure functions of the corpus, reproduced exactly by the SQL oracle
    (operators/export.py:pack_bins)."""
    from platypus_ingestion_plugins_spark.operators.export import pack_bins

    d = (
        _t(spark, sf, "documents")
        .select("doc_id", TX.token_count("text").alias("n_tok"))
    )
    return pack_bins(d, "doc_id", "n_tok", target_tokens=512, n_shards=4)


SQL_PACK_BINS = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''))
           AS n_tok,
         {_UNIT_SQL.format(salt="shuffle", key="doc_id")} AS u
  FROM documents),
a AS (SELECT doc_id, n_tok, u, CAST(floor(u * 4) AS INT) AS shard FROM t),
c AS (
  SELECT doc_id, n_tok, shard,
         CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY u, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
           AS "offset"
  FROM a)
SELECT doc_id, n_tok, shard, "offset",
       CAST(floor("offset" / 512.0) AS BIGINT) AS bin
FROM c
"""


def q_pack_texts(spark, sf):
    """The materialized packing: per (shard, bin) the concatenated
    document text in stream order — collect_list order is
    partition-dependent, so the operator restores order via
    offset-tagged array_sort, and the oracle's ORDER BY string_agg
    must byte-match (operators/export.py:materialize_packs)."""
    from platypus_ingestion_plugins_spark.operators.export import materialize_packs

    d = (
        _t(spark, sf, "documents")
        .select("doc_id", "text", TX.token_count("text").alias("n_tok"))
    )
    return materialize_packs(
        d, "doc_id", "text", "n_tok", target_tokens=512, n_shards=4
    )


SQL_PACK_TEXTS = f"""
WITH t AS (
  SELECT doc_id, text,
         len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''))
           AS n_tok,
         {_UNIT_SQL.format(salt="shuffle", key="doc_id")} AS u
  FROM documents),
a AS (SELECT doc_id, text, n_tok, u, CAST(floor(u * 4) AS INT) AS shard FROM t),
c AS (
  SELECT doc_id, text, n_tok, shard,
         CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY u, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
           AS "offset"
  FROM a)
SELECT shard, CAST(floor("offset" / 512.0) AS BIGINT) AS bin,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       string_agg(text, ' ' ORDER BY "offset", text) AS pack_text
FROM c GROUP BY 1, 2
"""


def q_multimodal_meta(spark, sf):
    d = multimodal.attach_payload(_t(spark, sf, "documents"), "text", mime="text/plain")
    return d.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("payload_sha"),
        F.replace(F.base64(F.col("payload")), F.lit("\r\n"), F.lit("")).alias("payload_b64"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id, 'text/plain' AS mime,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS payload_sha,
       base64(encode(text)) AS payload_b64
FROM documents
"""


def q_multimodal_features(spark, sf):
    """Arrow-batched mapInPandas decode/feature plumbing (stub kernel) —
    deterministic, so oracle-checkable on the byte-sum definition."""
    d = multimodal.attach_payload(_t(spark, sf, "documents"), "text")
    feats = multimodal.extract_features(d, dim=4)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
    )


# oracle: byte-sum of the first of 4 numpy array_split chunks, mod 256, /255.
# np.array_split puts ceil(n/4) bytes in the first chunk; documents text is
# ascii so char codes == bytes.
SQL_MULTIMODAL_FEATURES = """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         CAST(ceil(octet_length(encode(text)) / 4.0) AS INT) AS c1
  FROM documents)
SELECT doc_id, n AS n_bytes,
       round((coalesce(list_sum(list_transform(
                 generate_series(1, c1), g -> unicode(substr(text, g, 1)))), 0)
              % 256) / 255.0, 6) AS f0
FROM b
"""


def q_multimodal_resize(spark, sf):
    """Resize/transcode stage (Arrow-batched mapInPandas, stub kernel):
    deterministic byte-stride downsample raw[::stride] with stride =
    ceil(n/target) — the oracle reproduces the exact stride positions
    with generate_series stepping, so the binary plumbing is value-
    checked end to end (documents text is ascii: bytes == chars)."""
    d = multimodal.attach_payload(_t(spark, sf, "documents"), "text")
    out = multimodal.resize(d, target_bytes=64)
    return out.select(
        "doc_id",
        "orig_bytes",
        "resized_bytes",
        F.decode("payload", "UTF-8").alias("payload_str"),
    )


SQL_MULTIMODAL_RESIZE = """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         greatest(CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT), 1) AS stride
  FROM documents)
SELECT doc_id, n AS orig_bytes,
       len(generate_series(1, n, stride)) AS resized_bytes,
       array_to_string(
         list_transform(generate_series(1, n, stride), g -> substr(text, g, 1)), ''
       ) AS payload_str
FROM b
"""


def q_multimodal_frames(spark, sf):
    """Frame-sampling stage: payload sliced into fixed 64-byte frames
    (video frame-extract stand-in), pure JVM byte ops, one posexplode.
    Oracle reproduces every frame via generate_series + substr."""
    d = multimodal.attach_payload(_t(spark, sf, "documents"), "text")
    return multimodal.sample_frames(d, every_n_bytes=64)


SQL_MULTIMODAL_FRAMES = """
WITH b AS (
  SELECT doc_id, text,
         greatest(length(text) // 64, 1) AS nf
  FROM documents)
SELECT doc_id, i - 1 AS frame_no, substr(text, (i - 1) * 64 + 1, 64) AS frame
FROM b, unnest(generate_series(1, nf)) AS t(i)
"""


def q_video_neardup(spark, sf):
    """Video near-dup by aligned per-frame dHash
    (operators/multimodal.video_frame_dhashes/video_neardup_pairs —
    NEW r12): each doc renders a REAL 4-frame clip (concatenated
    self-delimiting 16x16 P5 frames; frame f's raster byte i = text
    byte (f*97 + i) mod len — deterministic, SQL-replayable), the
    kernel parses the multi-frame container (netpbm.decode_many) and
    hashes every frame, and banding per (frame_no, band, val) finds
    pairs with >= 2 of 4 frame indices within hamming 6 — lossless
    frame-by-frame by pigeonhole, so the oracle's exact all-pairs
    per-frame replay is what the blocked plan must reproduce."""
    d = _t(spark, sf, "documents")
    # repeat count covers the worst frame offset: 3*97 + 256 = 547
    # bytes must exist in the repeated text for every row
    frames = [
        F.concat(
            F.encode(F.lit("P5\n16 16\n255\n"), "UTF-8"),
            F.encode(
                F.expr(
                    f"substring(repeat(text, cast(ceil(548.0 / length(text)) as int) + 1), {f * 97 + 1}, 256)"
                ),
                "UTF-8",
            ),
        )
        for f in range(4)
    ]
    clips = d.select("doc_id", F.concat(*frames).alias("payload"))
    return multimodal.video_neardup_pairs(
        clips, max_hamming=6, min_matching_frames=2
    )


SQL_VIDEO_NEARDUP = """
WITH bits AS (
  SELECT doc_id, f.g AS f,
         CASE WHEN ascii(substr(text,
                 ((f.g*97 + ((rr.g*16)//7)*16 + (cc.g*16)//10)
                  % length(text)) + 1, 1))
               > ascii(substr(text,
                 ((f.g*97 + ((rr.g*16)//7)*16 + ((cc.g+1)*16)//10)
                  % length(text)) + 1, 1))
              THEN 1::BIGINT << (rr.g*9 + cc.g) ELSE 0 END AS bit
  FROM documents,
       unnest(generate_series(0, 3)) AS f(g),
       unnest(generate_series(0, 6)) AS rr(g),
       unnest(generate_series(0, 8)) AS cc(g)),
hashes AS (
  SELECT doc_id, f, sum(bit)::BIGINT AS dhash
  FROM bits GROUP BY doc_id, f),
fm AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.f
  FROM hashes a JOIN hashes b
    ON a.f = b.f AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6)
SELECT id_a, id_b, count(*) AS n_matching_frames
FROM fm GROUP BY id_a, id_b HAVING count(*) >= 2
"""


def q_audio_neardup(spark, sf):
    """Audio near-dup by the 63-bit energy-envelope hash
    (multimodal.audio_fingerprints/audio_neardup_pairs — NEW r12,
    completing the modality dedup matrix): the audio_stats synthesis
    renders each doc's 128-sample clip, the kernel does a genuine PCM
    decode -> 64-window integer energy envelope -> 63 gradient bits
    (gain-invariant: uniform loudness scales every window's energy
    together), and the shared lossless banding finds pairs within
    hamming 6. The oracle replays sample values, window energies, the
    hash and the exact all-pairs filter from the text in closed
    form (24 pairs at sf0.01 — the near-dup fixture families)."""
    from platypus_ingestion_plugins_spark.operators.multimodal import (
        audio_neardup_pairs,
    )

    d = _t(spark, sf, "documents")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from platypus_ingestion_plugins_spark.functions import pcm

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = np.frombuffer((t or " ").encode(), dtype=np.uint8)
                idx = np.arange(128) % len(b)
                v = ((b[idx].astype(np.int64) - 80) * 250).astype("int16")
                payloads.append(pcm.encode(v, rate=1600))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    clips = d.select("doc_id", "text").mapInPandas(
        synth, "doc_id long, payload binary"
    )
    return audio_neardup_pairs(clips, max_hamming=6, bands=7)


# closed-form replay: with 128 samples and 64 windows the floor
# boundaries are exactly [2w, 2w+2), so window w's energy is
# v[2w]^2 + v[2w+1]^2; bit w set iff e_w > e_{w+1}
SQL_AUDIO_NEARDUP = """
WITH s AS (
  SELECT doc_id, i.g AS i,
         CAST((ascii(substr(text, (i.g % length(text)) + 1, 1)) - 80) * 250
              AS BIGINT) AS v
  FROM documents, unnest(generate_series(0, 127)) AS i(g)),
en AS (
  SELECT doc_id, i // 2 AS w, CAST(sum(v * v) AS BIGINT) AS e
  FROM s GROUP BY doc_id, i // 2),
bits AS (
  SELECT a.doc_id,
         CASE WHEN a.e > b.e THEN 1::BIGINT << CAST(a.w AS INT)
              ELSE 0 END AS bit
  FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.w = a.w + 1),
hashes AS (SELECT doc_id, sum(bit)::BIGINT AS afp FROM bits GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.afp, b.afp)) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 6
"""


def q_stream_image_neardup(spark, sf):
    """Streaming IMAGE near-dup suppression (NEW r12): the text-side
    streaming band-key machinery running unchanged on dHash
    fingerprints — documents stream in two seq-ordered drops, each
    micro-batch renders its docs' 16x16 P5 payloads (the
    image_neardup synthesis), hashes them (multimodal.dhash_images),
    bands the 63-bit fingerprints (dedup.fingerprint_band_keys, 7x9
    bits), suppresses any image within hamming 6 of a smaller-id one
    (band-mates in the accumulated partition-pruned key index OR this
    batch), and appends all batch keys. The first-keeps rule is
    batch-split independent, so the streamed union must equal the
    oracle's one-shot all-pairs filter — the multimodal axis now has
    the same batch/stream dedup symmetry as text."""
    import shutil

    from platypus_ingestion_plugins_spark import fs as _fs

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    docs_lo, docs_hi = _median_split(docs, "doc_id")

    work = _stream_scratch("stream_imgdup_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        idx = os.path.join(work, "index")
        surv = os.path.join(work, "survivors")
        ckpt = os.path.join(work, "ckpt")

        ras = F.expr(
            "substring(repeat(text, cast(ceil(256.0/length(text)) as int)"
            " + 1), 1, 256)"
        )

        def handle(batch_df, _bid):
            imgs = batch_df.select(
                "doc_id",
                F.concat(
                    F.encode(F.lit("P5\n16 16\n255\n"), "UTF-8"),
                    F.encode(ras, "UTF-8"),
                ).alias("payload"),
            )
            fp = multimodal.dhash_images(imgs).withColumnRenamed(
                "dhash", "simhash"
            )
            keys = dedup.fingerprint_band_keys(
                fp, "doc_id", "simhash", bits=63, bands=7
            )
            keys.persist()  # hash once for prune/join/append
            try:
                # compact first / overlap after: same discipline and
                # rationale as the text-side stream_neardup handle
                if _bid % 4 == 3 and _fs.exists(spark, idx):
                    dedup.compact_band_key_index(
                        spark, idx, max_files_per_dir=4
                    )
                earlier = (
                    dedup.read_band_keys_pruned(
                        spark, idx, keys, val_buckets=8
                    )
                    if _fs.exists(spark, idx)
                    else None
                )
                concurrency.overlap_jobs(
                    lambda: (
                        dedup.neardup_survivors_incremental(
                            keys, earlier, "doc_id", max_hamming=6
                        )
                        .withColumnRenamed("simhash", "dhash")
                        .write.mode("append")
                        .parquet(surv)
                    ),
                    lambda: dedup.append_band_key_index(
                        keys, idx, val_buckets=8
                    ),
                )
            finally:
                keys.unpersist()

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(handle)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, docs_lo, docs_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=surv)
        return spark.read.parquet(surv).distinct()
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# one-shot replay: keep a doc iff no smaller-id doc's dHash sits
# within hamming 6 (the same closed-form hash as image_neardup)
SQL_STREAM_IMAGE_NEARDUP = """
WITH raster AS (
  SELECT doc_id,
         substr(repeat(text, CAST(ceil(256.0 / length(text)) AS INT) + 1),
                1, 256) AS ras
  FROM documents),
bits AS (
  SELECT doc_id,
         CASE WHEN ascii(substr(ras, ((rr.g*16)//7)*16 + (cc.g*16)//10 + 1, 1))
                 > ascii(substr(ras, ((rr.g*16)//7)*16 + ((cc.g+1)*16)//10 + 1, 1))
              THEN 1::BIGINT << (rr.g*9 + cc.g) ELSE 0 END AS bit
  FROM raster,
       unnest(generate_series(0, 6)) AS rr(g),
       unnest(generate_series(0, 8)) AS cc(g)),
hashes AS (
  SELECT doc_id, sum(bit)::BIGINT AS dhash FROM bits GROUP BY doc_id)
SELECT d.doc_id, d.dhash
FROM hashes d
WHERE NOT EXISTS (
  SELECT 1 FROM hashes e
  WHERE e.doc_id < d.doc_id
    AND bit_count(xor(e.dhash, d.dhash)) <= 6)
"""


def q_audio_stats(spark, sf):
    """Audio feature extraction over REAL framed s16le PCM payloads
    (operators/multimodal.audio_stats + functions/pcm.py — NEW r12,
    the audio twin of the netpbm image path): each doc synthesizes a
    deterministic 128-sample clip (sample i = (ascii(text byte
    i mod len) - 80) * 250 at 1600 Hz — SQL-replayable synthesis, the
    image_neardup raster convention on the time axis), the kernel
    does a genuine PCM encode -> decode -> integer stats pass, and
    the oracle computes the same numbers from the text in closed form
    — so the framing, decode and every stat are value-checked through
    the real codec. All integer arithmetic (floor-ms duration,
    sum-of-squares loudness, nonzero-sign zero-crossing convention)."""
    from platypus_ingestion_plugins_spark.operators.multimodal import (
        audio_stats,
    )

    d = _t(spark, sf, "documents")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from platypus_ingestion_plugins_spark.functions import pcm

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = np.frombuffer((t or " ").encode(), dtype=np.uint8)
                idx = np.arange(128) % len(b)
                v = ((b[idx].astype(np.int64) - 80) * 250).astype("int16")
                payloads.append(pcm.encode(v, rate=1600))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    clips = d.select("doc_id", "text").mapInPandas(
        synth, "doc_id long, payload binary"
    )
    return audio_stats(clips).select(
        "doc_id", "duration_ms", "sumsq", "peak", "zero_crossings"
    )


SQL_AUDIO_STATS = """
WITH s AS (
  SELECT doc_id, i.g AS i,
         CAST((ascii(substr(text, (i.g % length(text)) + 1, 1)) - 80) * 250
              AS BIGINT) AS v
  FROM documents, unnest(generate_series(0, 127)) AS i(g)),
base AS (
  SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS sumsq,
         max(abs(v)) AS peak
  FROM s GROUP BY doc_id),
nz AS (SELECT doc_id, i, sign(v) AS sg FROM s WHERE v <> 0),
cr AS (
  SELECT doc_id,
         CASE WHEN sg <> lag(sg) OVER (PARTITION BY doc_id ORDER BY i)
              THEN 1 ELSE 0 END AS c
  FROM nz),
zc AS (SELECT doc_id, sum(c) AS zero_crossings FROM cr GROUP BY doc_id)
SELECT b.doc_id, CAST(80 AS BIGINT) AS duration_ms, b.sumsq, b.peak,
       CAST(coalesce(zc.zero_crossings, 0) AS BIGINT) AS zero_crossings
FROM base b LEFT JOIN zc USING (doc_id)
"""


def q_multimodal_external_meta(spark, sf):
    """Pointer-to-object-store round trip as an oracle query: payloads
    over 256 bytes externalize to packed per-partition blobs, the
    loader ranged-reads them back, and mime/size/sha/base64 are
    recomputed from the ROUND-TRIPPED bytes — any corruption in the
    blob write/seek/read path breaks the value hash. Oracle: identical
    to multimodal_meta, because the round trip must be byte-lossless.
    Uses externalize_to_table (externalize + parquet materialization
    barrier), the pattern object stores require: pointers are pinned
    by ONE action and blob streams are closed before any read."""
    import atexit
    import shutil

    d = multimodal.attach_payload(
        _t(spark, sf, "documents"), "text", mime="text/plain"
    ).select("doc_id", "payload")
    work = _stream_scratch("mm_ext_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    ext = multimodal.externalize_to_table(
        d, f"{work}/blobs", f"{work}/refs", threshold_bytes=256
    )
    # GC under the oracle (VERDICT r6 #8): plant an orphan blob (a
    # failed-attempt leftover), collect with min_age_s=0 (safe — the
    # materialization barrier above guarantees no writer is in
    # flight). The orphan must go; every referenced blob must survive,
    # or the round-tripped hashes below break the value hash.
    orphan = f"{work}/blobs/blob-deadattempt-00000.bin"
    with open(orphan, "wb") as f:
        f.write(b"uncommitted task-attempt leftover")
    deleted = multimodal.gc_blobs(ext, f"{work}/blobs", min_age_s=0)
    if deleted != [orphan]:
        raise RuntimeError(f"gc_blobs deleted {deleted}, expected [{orphan}]")
    back = multimodal.load_payloads(ext)
    return back.select(
        "doc_id",
        F.lit("text/plain").alias("mime"),
        F.length("payload").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
        F.replace(F.base64(F.col("payload")), F.lit("\r\n"), F.lit("")).alias("payload_b64"),
    )


SQL_MULTIMODAL_EXTERNAL_META = SQL_MULTIMODAL_META


def q_cdc_format_last_wins(spark, sf):
    """format("cdc-table") sugar end to end (SURVEY §7.3, r10): the
    cdc_last_wins changelog written as two _snapshot-partitioned drops
    (sources/cdc_table.write_cdc_snapshot), read back through the
    registered Python Data Source — snapshot pruning exercised with an
    incremental last_snapshot=0 option — and materialized to last-wins
    state. Same oracle as cdc_last_wins: the sugar must be a pure
    access-path change."""
    import shutil

    from platypus_ingestion_plugins_spark.sources import cdc_table
    from platypus_ingestion_plugins_spark.sources.cdc_format import (
        register_cdc_table_source,
    )

    ev = _t(spark, sf, "events")
    ch = ev.select(
        F.col("event_id").alias("_seq"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", "-D")
        .when(F.col("event_type") == "error", "-U")
        .otherwise("+I")
        .alias("_row_kind"),
    )
    ch_lo, ch_hi = _median_split(ch, "_seq")
    work = _stream_scratch("cdc_format_")
    try:
        log = os.path.join(work, "log")
        cdc_table.write_cdc_snapshot(ch_lo, log, snapshot_id=1)
        cdc_table.write_cdc_snapshot(ch_hi, log, snapshot_id=2)
        register_cdc_table_source(spark)
        back = (
            spark.read.format("cdc-table")
            .option("last_snapshot", 0)  # incremental path: all snapshots > 0
            .load(log)
            .drop("_snapshot")
        )
        state = cdc.apply_changelog(back, "user_id")
        out = state.select("user_id", "event_type", "value")
        # the scratch log must outlive this lazy plan (driver collects
        # later) — park it for end-of-process cleanup like the other
        # scratch-backed entries
        _keep_until_exit(work, keep=log)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


def q_cdc_time_travel(spark, sf):
    """Time-travel read (sources/cdc_table.read_as_of — Paimon's
    VERSION AS OF on the CDC-convention layout): the changelog written
    as two snapshot drops, then materialized AS OF snapshot 1 —
    partition pruning keeps snapshot 2's files unopened, and the
    result must equal a last-wins materialization over the first
    drop alone (the oracle replays the exact median split)."""
    import shutil

    from platypus_ingestion_plugins_spark.sources import cdc_table

    ev = _t(spark, sf, "events")
    ch = ev.select(
        F.col("event_id").alias("_seq"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", "-D")
        .when(F.col("event_type") == "error", "-U")
        .otherwise("+I")
        .alias("_row_kind"),
    )
    ch_lo, ch_hi = _median_split(ch, "_seq")
    work = _stream_scratch("cdc_tt_")
    try:
        log = os.path.join(work, "log")
        cdc_table.write_cdc_snapshot(ch_lo, log, snapshot_id=1)
        cdc_table.write_cdc_snapshot(ch_hi, log, snapshot_id=2)
        state1 = cdc_table.read_as_of(spark, log, 1, "user_id")
        out = state1.select("user_id", "event_type", "value")
        _keep_until_exit(work, keep=log)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_CDC_TIME_TRAVEL = """
WITH m AS (SELECT median(event_id) AS mid FROM events),
ch AS (
  SELECT event_id AS seq, user_id, event_type, value,
         CASE WHEN event_type='click' THEN '-D'
              WHEN event_type='error' THEN '-U' ELSE '+I' END AS kind
  FROM events, m WHERE event_id <= mid),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
  FROM ch WHERE kind IN ('+I','-D'))
SELECT user_id, event_type, value FROM ranked WHERE rn = 1 AND kind <> '-D'
"""


def q_cdc_compact_read(spark, sf):
    """Snapshot compaction invariant (sources/cdc_table.
    compact_snapshots): fold both changelog snapshots into one
    tombstone-preserving base, then read the latest state — it must
    equal the uncompacted full-table materialization exactly (the
    cdc_last_wins oracle), proving compaction is a pure storage
    change."""
    import shutil

    from platypus_ingestion_plugins_spark.sources import cdc_table

    ev = _t(spark, sf, "events")
    ch = ev.select(
        F.col("event_id").alias("_seq"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", "-D")
        .when(F.col("event_type") == "error", "-U")
        .otherwise("+I")
        .alias("_row_kind"),
    )
    ch_lo, ch_hi = _median_split(ch, "_seq")
    work = _stream_scratch("cdc_compact_")
    try:
        log = os.path.join(work, "log")
        cdc_table.write_cdc_snapshot(ch_lo, log, snapshot_id=1)
        cdc_table.write_cdc_snapshot(ch_hi, log, snapshot_id=2)
        cdc_table.compact_snapshots(spark, log, upto=2, key="user_id")
        state = cdc_table.read_as_of(spark, log, 2, "user_id")
        out = state.select("user_id", "event_type", "value")
        _keep_until_exit(work, keep=log)
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


def q_assemble_chat(spark, sf):
    """Interaction logs -> SFT conversations (operators/chat.
    assemble_conversations): events group per user into an ordered
    (role, content) turn array — the inverse of flattening, feeding
    the whole chat pipeline — then render to the training string.
    Order restored by array_sort on carried keys, not collect_list
    luck; one partial-aggregatable groupBy."""
    ev = _t(spark, sf, "events")
    rows = ev.select(
        "user_id",
        F.when(F.col("event_type").isin("click", "signup"), "user")
        .otherwise("assistant")
        .alias("role"),
        F.concat(
            "event_type", F.lit(":"), F.col("event_id").cast("string")
        ).alias("content"),
        "event_id",
    )
    conv = chat.assemble_conversations(
        rows, "user_id", "role", "content", "event_id"
    )
    return conv.select(
        F.col("group").alias("grp"),
        "n_turns",
        chat.render_chat("turns").alias("rendered"),
    )


SQL_ASSEMBLE_CHAT = """
SELECT user_id AS grp, CAST(count(*) AS INT) AS n_turns,
       string_agg(
         '<|im_start|>'
         || CASE WHEN event_type IN ('click', 'signup')
                 THEN 'user' ELSE 'assistant' END
         || chr(10) || event_type || ':' || CAST(event_id AS VARCHAR)
         || '<|im_end|>' || chr(10),
         '' ORDER BY event_id) AS rendered
FROM events GROUP BY user_id
"""


def q_stream_cdc_materialize(spark, sf):
    """Full Structured-Streaming path: the cdc_last_wins changelog split
    into two seq-ordered micro-batches, streamed from parquet through
    foreachBatch into a ServingTable, then queried. Final state must
    equal the one-shot batch materialization (same oracle)."""
    import shutil
    import tempfile

    from platypus_ingestion_plugins_spark.serving.table import ServingTable
    from platypus_ingestion_plugins_spark.streaming.pipeline import CdcStreamingPipeline

    ev = _t(spark, sf, "events")
    ch = ev.select(
        F.col("event_id").alias("_seq"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", "-D")
        .when(F.col("event_type") == "error", "-U")
        .otherwise("+I")
        .alias("_row_kind"),
    )
    ch_lo, ch_hi = _median_split(ch, "_seq")

    work = _stream_scratch("stream_cdc_")
    # per-batch merge shuffles are tiny; 8 partitions cuts task and
    # state-file overhead (same sizing rationale as stream_sessionize)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        # bucketed layout: each micro-batch rewrites only the hash-bucket
        # partitions holding changed keys (the 100 TB merge path)
        serving = ServingTable(
            spark, os.path.join(work, "serving"), key="user_id", num_buckets=8
        )

        # two ordered drops (all seqs <= mid, then the rest) as two
        # micro-batches of one drain — r17 single-run replay, same as
        # the rest of the stream family (_replay_two_drops)
        def run_available(mfpt, schema):
            CdcStreamingPipeline(
                spark, src, schema, serving, ckpt,
                max_files_per_trigger=mfpt,
            ).run_available()

        _replay_two_drops(spark, ch_lo, ch_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=os.path.join(work, "serving"))
        return serving.query().select("user_id", "event_type", "value")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_CDC_MATERIALIZE = SQL_CDC_LAST_WINS


def q_serving_compact(spark, sf):
    """Merge → compact → read under the oracle (VERDICT r6 #8): the
    cdc_last_wins changelog applied as two seq-ordered merge batches
    (each bucket accumulates one parquet file per shuffle task per
    rewrite — the streaming-sink small-file pathology), then
    ``compact(max_files_per_bucket=1)`` rewrites every oversized
    bucket to a single file through the stage-then-swap barrier. The
    post-compaction read must hash-match the one-shot batch
    materialization — a row lost, duplicated, or schema-stale'd by
    compaction breaks the value hash."""
    import shutil

    from platypus_ingestion_plugins_spark.serving.table import ServingTable

    ev = _t(spark, sf, "events")
    ch = ev.select(
        F.col("event_id").alias("_seq"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", "-D")
        .when(F.col("event_type") == "error", "-U")
        .otherwise("+I")
        .alias("_row_kind"),
    )
    ch_lo, ch_hi = _median_split(ch, "_seq")

    work = _stream_scratch("serving_compact_")
    # 16 shuffle partitions over 8 buckets with AQE coalescing OFF:
    # each merge rewrite fans a bucket across ~2 tasks, reproducing at
    # sandbox scale the multi-file buckets a real micro-batch stream
    # accumulates (at sf0.1 AQE would otherwise coalesce the tiny
    # shuffle to one file per bucket and compact() would no-op)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        serving = ServingTable(
            spark, os.path.join(work, "serving"), key="user_id", num_buckets=8
        )
        for batch in (
            ch_lo,
            ch_hi,
        ):
            serving.apply_batch(batch)
        compacted = serving.compact(max_files_per_bucket=1)
        if not compacted:
            # three merge rewrites must leave >1 file in some bucket;
            # a no-op here means the query no longer exercises compact
            raise RuntimeError("compact() found nothing to rewrite")
        _keep_until_exit(work, keep=os.path.join(work, "serving"))
        return serving.query().select("user_id", "event_type", "value")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce
        )


SQL_SERVING_COMPACT = SQL_CDC_LAST_WINS


def q_stream_dedup_exact(spark, sf):
    """Streaming exact dedup: documents split into two drops, streamed
    with ``dropDuplicates`` on the content hash — the dedup state
    lives in the checkpointed state store, so a drop-2 document that
    duplicates a drop-1 document is suppressed ACROSS micro-batches.
    Emits the surviving hash set (the one deterministic projection: a
    duplicate group's surviving doc_id depends on arrival order).
    Oracle: batch DISTINCT over the same hash."""
    import shutil
    import tempfile

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    docs_lo, docs_hi = _median_split(docs, "doc_id")

    work = _stream_scratch("stream_dedup_")
    # dropDuplicates state-store partition count is fixed at the first
    # checkpoint from spark.sql.shuffle.partitions; 8 suits the sandbox
    # key cardinality and cuts per-batch provider init/commit cost
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.select(F.sha2(F.col("text"), 256).alias("content_sha"))
                .dropDuplicates(["content_sha"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, docs_lo, docs_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=out)
        return spark.read.parquet(out)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_DEDUP_EXACT = """
SELECT DISTINCT sha256(text) AS content_sha FROM documents
"""


def q_stream_chat_dedup(spark, sf):
    """Streaming assistant-transcript dedup: conversations stream in
    two drops, the dedup key is operators/chat.assistant_transcript_key
    (sha2 of the \\x1f-joined assistant contents), and dropDuplicates'
    checkpointed state suppresses a drop-2 conversation that teaches
    the same responses as a drop-1 one — the streaming twin of
    chat_assistant_dedup, completing the batch/stream symmetry for
    the SFT axis. Responses are 3-char slices so the corpus genuinely
    collides across the drop boundary. Emits the surviving key set
    (set semantics are split-independent; the oracle is a DISTINCT
    over the replayed keys)."""
    import shutil

    from platypus_ingestion_plugins_spark.operators import chat as CHAT

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    turns = F.array(
        F.struct(
            F.lit("user").alias("role"),
            F.col("text").substr(F.lit(1), F.lit(4)).alias("content"),
        ),
        F.struct(
            F.lit("assistant").alias("role"),
            F.col("text").substr(F.lit(5), F.lit(3)).alias("content"),
        ),
    )
    conv = docs.select("doc_id", turns.alias("turns"))
    lo, hi = _median_split(conv, "doc_id")

    work = _stream_scratch("stream_chat_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.select(
                    CHAT.assistant_transcript_key("turns").alias("atk")
                )
                # assistant-free conversations carry a NULL key and are
                # NOT duplicates of each other — they bypass the
                # stateful dedup (none exist in this fixture; the
                # filter IS the routing)
                .filter(F.col("atk").isNotNull())
                .dropDuplicates(["atk"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=out)
        return spark.read.parquet(out)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_CHAT_DEDUP = """
SELECT DISTINCT sha256(
    CAST(length(coalesce(substr(text, 5, 3), '')) AS VARCHAR) || ':'
    || coalesce(substr(text, 5, 3), '') || chr(31)) AS atk
FROM documents
"""


def q_stream_neardup_dedup(spark, sf):
    """Streaming NEAR-duplicate suppression: documents stream in two
    seq-ordered drops; each micro-batch computes 32-bit SimHash band
    keys, suppresses any doc within hamming 3 of a smaller-id doc —
    band-mates in the accumulated key index OR this batch are the
    candidates, each verified on the full fingerprint — and appends
    ALL batch keys (survivors' and suppressed docs') to the index.
    The any-earlier-doc rule is batch-split independent (see
    dedup.neardup_survivors), so the streaming result must equal the
    oracle's one-shot all-pairs filter. foreachBatch writes are
    append-only and replay-idempotent: re-appended keys add no new
    hits, re-appended survivors collapse in the final distinct.

    The key index is PARTITIONED by (band, vb=val%64) and each batch
    reads only the directories its own band keys can match
    (dedup.read_band_keys_pruned — literal partition filters, file
    skip before any data I/O), so steady-state per-batch index I/O is
    proportional to the batch's key diversity, not the accumulated
    corpus; the survivors join's left side is the batch alone
    (neardup_survivors_incremental), not every earlier doc."""
    import shutil

    from platypus_ingestion_plugins_spark import fs as _fs

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    docs_lo, docs_hi = _median_split(docs, "doc_id")

    work = _stream_scratch("stream_neardup_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        idx = os.path.join(work, "index")
        surv = os.path.join(work, "survivors")
        ckpt = os.path.join(work, "ckpt")

        def handle(batch_df, _bid):
            keys = dedup.simhash_band_keys(batch_df, "text", "doc_id", bits=32, bands=4)
            keys.persist()  # fingerprinting runs once for prune/join/append
            try:
                # self-maintaining index, consulted every 4th epoch:
                # dirs fragmented past 4 files are rewritten (plateau
                # proven in test_band_key_index_auto_compaction_plateau).
                # The per-dir swap runs FIRST, serially, so the
                # overlapped jobs below never read a directory a
                # concurrent rewrite renames (r16, guide §2.6); band
                # keys are set-semantics idempotent, so compacting
                # before vs after this batch's rows land reads back the
                # same key set either way
                if _bid % 4 == 3 and _fs.exists(spark, idx):
                    dedup.compact_band_key_index(
                        spark, idx, max_files_per_dir=4
                    )
                earlier = (
                    dedup.read_band_keys_pruned(spark, idx, keys, val_buckets=8)
                    if _fs.exists(spark, idx)
                    else None
                )
                # survivors write and key append are independent
                # (`earlier` pinned its file listing above, appends
                # only add files), so their jobs overlap (§2.6)
                concurrency.overlap_jobs(
                    lambda: (
                        dedup.neardup_survivors_incremental(
                            keys, earlier, "doc_id", max_hamming=3
                        )
                        .write.mode("append")
                        .parquet(surv)
                    ),
                    lambda: dedup.append_band_key_index(
                        keys, idx, val_buckets=8
                    ),
                )
            finally:
                keys.unpersist()

        def run_available(mfpt, schema):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            q = (
                stream.writeStream.foreachBatch(handle)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # index compaction is oracle-certified by its own query
        # (band_index_compact) — wiring it here would add a third of
        # the cost to the suite's most expensive entry for coverage a
        # cheap batch query provides identically
        _replay_two_drops(spark, docs_lo, docs_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=surv)
        return spark.read.parquet(surv).distinct()
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_NEARDUP_DEDUP = f"""
WITH fp AS ({_simhash_sql(32)})
SELECT d.doc_id, d.simhash
FROM fp d
WHERE NOT EXISTS (
  SELECT 1 FROM fp e
  WHERE e.doc_id < d.doc_id
    AND bit_count(xor(e.simhash, d.simhash)) <= 3)
"""


def _stream_scratch(prefix: str) -> str:
    """Scratch dir for a streaming query's src/ckpt/out. Prefers tmpfs
    (/dev/shm): a checkpointed micro-batch writes hundreds of tiny
    state/offset/commit files whose fsync cost dominates the query at
    sandbox scale — RAM-backed scratch cuts the constant factor without
    touching the plan. Falls back to the default tmp dir."""
    import tempfile

    shm = "/dev/shm"
    return tempfile.mkdtemp(
        prefix=prefix, dir=shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else None
    )


# Flip for A/B only (scripts/ab_two_drop_replay.py): False forces the
# pre-r17 two-run shape through the same code path.
_SINGLE_RUN_DROPS = True


def _replay_two_drops(spark, lo, hi, src, ckpt, run_available):
    """Write both drops, then replay them as two micro-batches of ONE
    availableNow query: ``maxFilesPerTrigger`` = the first drop's file
    count, so the drops stay separate batches while the replay pays
    one query start (planning, source init, state/provider load,
    trailing no-data batch where applicable) instead of two — the
    fixed cost that dominated every stream_* entry at bench scale
    (VERDICT r16 task #7; scripts/ab_stream_drops.py measured the
    stateful pair, scripts/ab_two_drop_replay.py the foreachBatch
    family). ``run_available(mfpt, schema)`` must start one
    availableNow pass over ``src`` and block until it terminates;
    batch ids are unchanged vs the two-run shape (0 then 1 — ids are
    checkpoint-global), so per-epoch foreachBatch logic keyed on the
    batch id behaves identically.

    The file source orders pending files oldest-first (modification
    time), and the two write jobs are strictly sequential, so batch 0
    is the lo drop; the offsets-log check below turns any violation
    of that precondition into a loud failure instead of a silently
    different replay. If the hi drop ever fragments into MORE files
    than lo, single-run batching could split it mid-drop (a drop is
    only time-ordered as a whole) — fall back to the two-run shape,
    which is byte-identical to the pre-r17 path."""
    import json as _json

    lo.coalesce(4).write.mode("append").parquet(src)
    lo_files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet"))
    # hi goes to a sibling dir first so the one-run-vs-two-run choice
    # is made BEFORE the second drop becomes visible to the source
    side = src + ".drop2"
    hi.coalesce(4).write.parquet(side)
    hi_files = sorted(
        f for f in os.listdir(side) if f.endswith(".parquet"))
    schema = spark.read.parquet(src).schema

    def move_hi_in():
        # rename preserves mtimes, which the two sequential write jobs
        # already ordered lo-before-hi; part-file names carry per-job
        # UUIDs so cross-job collisions cannot occur
        for f in hi_files:
            os.rename(os.path.join(side, f), os.path.join(src, f))

    if len(hi_files) > len(lo_files) or not _SINGLE_RUN_DROPS:
        run_available(len(lo_files) + len(hi_files), schema)
        move_hi_in()
        run_available(len(lo_files) + len(hi_files), schema)
        return
    move_hi_in()
    run_available(len(lo_files), schema)
    # prove the micro-batch boundary followed the drop boundary
    src_log = os.path.join(ckpt, "sources", "0", "0")
    with open(src_log) as f:
        batch0 = sorted(
            os.path.basename(_json.loads(line)["path"])
            for line in f if line.startswith("{"))
    if batch0 != lo_files:
        raise RuntimeError(
            f"two-drop stream batching violated the drop boundary: "
            f"batch 0 read {batch0}, expected the lo drop {lo_files}")


def _run_two_drop_stream(spark, lo, hi, src, out, ckpt, xform):
    """_replay_two_drops for the parquet-sink stateful queries
    (stream_funnel / stream_sessionize): the transform's stream writes
    append-mode parquet to ``out``."""

    def run_available(mfpt, schema):
        q = (
            xform(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _replay_two_drops(spark, lo, hi, src, ckpt, run_available)


def _keep_until_exit(work: str, keep: str):
    """Drop the stream's src/ckpt scratch now, keep the result parquet
    until interpreter exit — the returned DataFrame stays a lazy scan
    (no collect + row-by-row re-parallelize of the result)."""
    import atexit
    import shutil

    for name in os.listdir(work):
        p = os.path.join(work, name)
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)
    atexit.register(shutil.rmtree, work, ignore_errors=True)


def _merge_partitioned_files(side: str, idx: str) -> None:
    """Move a staging index's partition files into the main index
    (local scratch only — both dirs live under _stream_scratch).
    Same-directory appends cannot run concurrently (two Spark jobs
    share the FileOutputCommitter _temporary dir under one output
    path), so the second half is appended to ``side`` in parallel and
    its ``key=``-partition parquet files renamed in here; part-file
    names carry per-job UUIDs, so cross-job collisions cannot occur
    and the merged directory state is byte-identical to two serial
    appends. Works for any partition depth (band=/vb=, cent_id=)."""
    for dirpath, _dirnames, filenames in os.walk(side):
        rel = os.path.relpath(dirpath, side)
        parts = [] if rel == "." else rel.split(os.sep)
        if not all("=" in p for p in parts):
            continue  # only partition dirs carry data files
        for f in filenames:
            if f.endswith(".parquet"):
                dst_dir = os.path.join(idx, *parts)
                os.makedirs(dst_dir, exist_ok=True)
                os.rename(
                    os.path.join(dirpath, f), os.path.join(dst_dir, f)
                )


def q_band_index_compact(spark, sf):
    """Band-key index maintenance under the oracle: two appends
    fragment every (band, vb) directory to two files, compaction
    rewrites them through the single-job copy-park-swap
    (dedup.compact_band_key_index), and the read-back must return the
    corpus's EXACT band-key set — a key lost or duplicated by the
    rewrite breaks the value hash. Crash-heal and threshold behavior
    are unit-covered (test_band_key_index_compaction_and_crash_heal).

    r17 (VERDICT r16 task #6): the two appends are independent halves
    but CANNOT overlap on one output path (shared FileOutputCommitter
    _temporary dir), so the second half appends to a distinct staging
    index concurrently (guide §2.6) and its partition files rename in
    (_merge_partitioned_files) — directory state byte-identical to two
    serial appends, compaction exercised identically. Interleaved A/B
    (scripts/ab_band_stage.py, rows asserted identical): 2.26 ->
    1.55 s min-of-4 at sf0.1."""
    import shutil

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    docs_lo, docs_hi = _median_split(docs, "doc_id")
    # fingerprint per half: same two UDF evaluations as the old
    # keys-computed-once-filtered-twice shape, one per append
    keys_lo = dedup.simhash_band_keys(docs_lo, "text", "doc_id", bits=32, bands=4)
    keys_hi = dedup.simhash_band_keys(docs_hi, "text", "doc_id", bits=32, bands=4)

    work = _stream_scratch("band_idx_")
    idx = os.path.join(work, "index")
    # 8 shuffle partitions: repartition("band","vb") has at most 16
    # groups here — the session default would schedule empty tasks
    # (same sizing rationale as the sibling streaming index queries)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # val_buckets=4 (16 dirs): the certification targets the
        # rewrite+swap, not directory count — fewer dirs, fewer tiny
        # files and swap round-trips at sandbox scale
        side = os.path.join(work, "index_staging")
        concurrency.overlap_jobs(
            lambda: dedup.append_band_key_index(keys_lo, idx, val_buckets=4),
            lambda: dedup.append_band_key_index(keys_hi, side, val_buckets=4),
        )
        _merge_partitioned_files(side, idx)
        if not dedup.compact_band_key_index(spark, idx, max_files_per_dir=1):
            # a no-op means the query stopped exercising compaction
            raise RuntimeError("band-key index compaction found nothing")
        _keep_until_exit(work, keep=idx)
        return spark.read.parquet(idx).select("doc_id", "simhash", "band", "val")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_BAND_INDEX_COMPACT = f"""
WITH fp AS ({_simhash_sql(32)}),
b AS (SELECT unnest([0, 1, 2, 3]) AS band)
SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS val
FROM fp, b
"""


def q_stream_agg_materialize(spark, sf):
    """Incrementally-maintained aggregate view: a streaming
    update-mode groupBy over two event drops, each micro-batch's
    updated groups upserted into a bucketed ServingTable through the
    same CDC merge as row upserts (updated group = '+U' changelog row,
    seq = batch id). Final table state must equal the one-shot batch
    aggregate — the materialized-view maintenance pattern where only
    CHANGED groups are rewritten per batch. Sums use exact decimal
    (order-independent), so values hash-match the oracle."""
    import shutil
    import tempfile

    from platypus_ingestion_plugins_spark.serving.table import ServingTable

    ev = _t(spark, sf, "events")
    ch = ev.select("event_id", "user_id", F.col("value"))
    ch_lo, ch_hi = _median_split(ch, "event_id")

    work = _stream_scratch("stream_agg_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        serving = ServingTable(
            spark, os.path.join(work, "serving"), key="user_id", num_buckets=8
        )

        def upsert(batch_df, batch_id):
            serving.apply_batch(
                batch_df.withColumn("_row_kind", F.lit("+U")).withColumn(
                    "_seq", F.lit(int(batch_id))
                )
            )

        def run_available(mfpt, schema):
            agg = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(30,6)")).alias("__sum_dec"),
                )
                .select(
                    "user_id",
                    "n_events",
                    F.col("__sum_dec").cast("double").alias("sum_value"),
                )
            )
            q = (
                agg.writeStream.foreachBatch(upsert)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, ch_lo, ch_hi, src, ckpt, run_available)
        _keep_until_exit(work, keep=os.path.join(work, "serving"))
        return serving.query().select("user_id", "n_events", "sum_value")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


SQL_STREAM_AGG_MATERIALIZE = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""


def q_stream_sessionize(spark, sf):
    """Stateful streaming sessionization (applyInPandasWithState): the
    events table split into two event-time-ordered drops, streamed as
    two micro-batches through the checkpointed state store; emits
    CLOSED sessions (30-min gap). Oracle: batch sessions minus each
    key's last (still-open) session — cross-batch state must
    reconstruct exactly the sessions a batch engine sees.

    r17 drop shape (VERDICT r16 task #7, scripts/ab_stream_drops.py):
    both drops are written BEFORE one availableNow query and
    ``maxFilesPerTrigger = |lo files|`` makes them two micro-batches
    of ONE run — the per-run fixed cost (query start, state-provider
    reload, extra no-data batch) was half the wall clock at bench
    scale. State still crosses a real micro-batch boundary through
    the checkpointed store; the RESTART-recovery path the old
    two-run shape also exercised stays covered by
    test_streaming_stateful.py (every test there runs two
    availableNow passes over a growing source). no-data micro-batches
    are disabled for this finite replay: output is emitted inline by
    the stateful function, never from an eviction timeout (late_s
    outlives the span), so the watermark-advance batch does pure
    state-commit work — A/B'd output-identical, min-of-3
    5.15 -> 3.51 s."""
    import shutil
    import tempfile

    from platypus_ingestion_plugins_spark.streaming.stateful import sessionize_stream

    ev = _t(spark, sf, "events")
    if dict(ev.dtypes).get("ts") == "bigint":
        sec = F.expr("ts DIV 1000000000")
    else:
        sec = F.col("ts").cast("timestamp").cast("long")
    e = ev.select(F.col("user_id").cast("string").alias("k"), sec.alias("t"))
    e_lo, e_hi = _median_split(e, "t")

    work = _stream_scratch("stream_sess_")
    # state-store partition count is fixed at the first checkpoint from
    # spark.sql.shuffle.partitions; size it to the key cardinality
    # (thousands of users), not the batch-analytics core count — every
    # state partition costs provider init/commit per micro-batch
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def xform(stream):
            # late_s beyond the table's time span: eviction never fires
            # on this finite replay, so closed-session output equals the
            # batch engine's (the oracle); the eviction path itself is
            # covered by test_streaming_stateful.py::test_sessionize_state_eviction
            return sessionize_stream(
                stream, key_col="k", ts_col="t", gap_s=1800, late_s=10**9
            )

        _run_two_drop_stream(spark, e_lo, e_hi, src, out, ckpt, xform)
        _keep_until_exit(work, keep=out)
        return spark.read.parquet(out)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata)


def q_stream_funnel(spark, sf):
    """Streaming funnel (NEW r13, streaming/stateful.funnel_stream):
    the events table in two event-time-ordered drops through the
    checkpointed state store; emits (key, step, step_idx, ts) the
    moment each user completes a step, greedy times FROZEN on
    emission, pending candidates retained so boundary-equality events
    arriving before their predecessor stay usable. On an ordered
    replay the output equals the batch staged-aggregation definition
    exactly — the oracle is a full value check of a custom stateful
    streaming operator.

    r17 drop shape (VERDICT r16 task #7): same single-run two-batch
    replay + no-data-batch suppression as q_stream_sessionize (see its
    docstring); A/B'd output-identical at sf0.1, min-of-3
    5.83 -> 4.25 s (scripts/ab_stream_drops.py)."""
    import shutil

    from platypus_ingestion_plugins_spark.streaming.stateful import (
        funnel_stream,
    )

    ev = _t(spark, sf, "events")
    if dict(ev.dtypes).get("ts") == "bigint":
        sec = F.expr("ts DIV 1000000000")
    else:
        sec = F.col("ts").cast("timestamp").cast("long")
    e = ev.select(
        F.col("user_id").cast("string").alias("k"),
        sec.alias("t"),
        F.col("event_type").alias("et"),
    )
    e_lo, e_hi = _median_split(e, "t")

    work = _stream_scratch("stream_funnel_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        def xform(stream):
            return funnel_stream(
                stream,
                "k",
                "t",
                "et",
                ["view", "click", "purchase"],
                late_s=10**9,
            )

        _run_two_drop_stream(spark, e_lo, e_hi, src, out, ckpt, xform)
        _keep_until_exit(work, keep=out)
        return spark.read.parquet(out)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata)


SQL_STREAM_FUNNEL = """
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         epoch_ns(ts) // 1000000000 AS t, event_type AS et
  FROM events),
u1 AS (SELECT key, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
u2 AS (SELECT e.key, min(t) AS t2 FROM e JOIN u1 USING (key)
       WHERE et = 'click' AND t >= t1 GROUP BY 1),
u3 AS (SELECT e.key, min(t) AS t3 FROM e JOIN u2 USING (key)
       WHERE et = 'purchase' AND t >= t2 GROUP BY 1)
SELECT key, 'view' AS step, CAST(1 AS INT) AS step_idx, t1 AS ts FROM u1
UNION ALL SELECT key, 'click', CAST(2 AS INT), t2 FROM u2
UNION ALL SELECT key, 'purchase', CAST(3 AS INT), t3 FROM u3
"""


SQL_STREAM_SESSIONIZE = """
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         epoch_ns(ts) // 1000000000 AS t
  FROM events),
o AS (
  SELECT key, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e),
s AS (
  SELECT key, t,
         sum(brk) OVER (PARTITION BY key ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o),
agg AS (
  SELECT key, sid, min(t) AS session_start, max(t) AS session_end,
         count(*) AS n_events
  FROM s GROUP BY key, sid),
last AS (SELECT key, max(sid) AS last_sid FROM agg GROUP BY key)
SELECT a.key, a.session_start, a.session_end, a.n_events
FROM agg a JOIN last l ON a.key = l.key AND a.sid < l.last_sid
"""




def q_weighted_sample(spark, sf):
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement
    (sampling.weighted_sample_wor): top-80 documents by
    u**(1/n_chars) with u the deterministic md5 unit hash — longer
    docs proportionally likelier, membership a pure function of
    (doc_id, salt). Compiles to TakeOrderedAndProject (per-partition
    top-n, no global sort); the oracle replays the identical
    arithmetic and must reproduce the exact row set."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        weighted_sample_wor,
    )

    d = _t(spark, sf, "documents")
    return weighted_sample_wor(d, "doc_id", "n_chars", 80).select(
        "doc_id", "source"
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH h AS (
  SELECT doc_id, source, n_chars,
         {_UNIT_SQL.format(salt="wsample", key="doc_id")} AS u
  FROM documents)
SELECT doc_id, source FROM h WHERE n_chars > 0
ORDER BY round(pow(u, 1.0 / n_chars), 6) DESC, doc_id LIMIT 80
"""


def q_line_dedup_by_source(spark, sf):
    """Group-scoped boilerplate scrub (dedup.line_dedup(by=)):
    doc-frequency counted WITHIN each source — every doc gets a
    source-branded footer (hot within its source, absent elsewhere)
    and doc_id % 7 == 0 docs share one global promo line whose
    within-source df decides its fate source by source: scrubbed
    where >= 2 docs of the source carry it, kept where it is that
    source's lone copy. Same reassembly contract as line_dedup."""
    d = _t(spark, sf, "documents")
    t2 = F.concat(
        F.col("text"),
        F.lit("\nVisit "), F.col("source"), F.lit(" homepage"),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit("\nGlobal promo line")
        ).otherwise(F.lit("")),
    )
    return dedup.line_dedup(
        d.select("doc_id", "source", t2.alias("text")),
        "text",
        "doc_id",
        min_df=2,
        by="source",
    ).select("doc_id", "text", "n_lines", "n_dropped")


SQL_LINE_DEDUP_BY_SOURCE = """
WITH src AS (
  SELECT doc_id, source,
         text || chr(10) || 'Visit ' || source || ' homepage'
              || CASE WHEN doc_id % 7 = 0
                      THEN chr(10) || 'Global promo line'
                      ELSE '' END AS text
  FROM documents),
split AS (SELECT doc_id, source, string_split(text, chr(10)) AS l FROM src),
ln AS (SELECT doc_id, source, unnest(generate_series(1, len(l))) AS i, l
       FROM split),
keyed AS (
  SELECT doc_id, source, i - 1 AS line_no, l[i] AS line,
         trim(lower(l[i])) AS k, trim(l[i]) = '' AS blank
  FROM ln),
hot AS (
  SELECT source, k FROM keyed WHERE NOT blank
  GROUP BY source, k HAVING count(DISTINCT doc_id) >= 2),
kept AS (
  SELECT doc_id, line_no, line,
         (EXISTS (SELECT 1 FROM hot h
                  WHERE h.source IS NOT DISTINCT FROM keyed.source
                    AND h.k = keyed.k))
           AND NOT blank AS dropped
  FROM keyed)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                           chr(10) ORDER BY line_no), '') AS text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM kept GROUP BY doc_id
"""


def q_perplexity_buckets(spark, sf):
    """CCNet head/middle/tail partition (lm.perplexity_buckets): the
    corpus-LM mean-logprob score ranked per LANGUAGE (percent_rank
    over the 6-dp-rounded score with doc_id tiebreak — a total order
    both engines reproduce bit-for-bit), cut at 1/3 and 2/3. vocab
    1024 so OOV smoothing is exercised at every SF (the
    unigram_logprob convention)."""
    from platypus_ingestion_plugins_spark.functions.lm import (
        perplexity_buckets,
    )

    d = _t(spark, sf, "documents")
    return perplexity_buckets(
        d, "text", "doc_id", by="lang", vocab_size=1024
    )


SQL_PERPLEXITY_BUCKETS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                    x -> x <> '')) AS tok
  FROM documents),
freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM freqs),
vocab AS (SELECT tok, cnt FROM freqs ORDER BY cnt DESC, tok LIMIT 1024),
model AS (SELECT tok, ln(cnt::DOUBLE) - ln(total::DOUBLE) AS logp FROM vocab, tot),
scored AS (
  SELECT doc_id,
         round(sum(coalesce(m.logp, ln(0.5) - ln(t.total::DOUBLE))) / count(*), 6)
           AS mean_logp
  FROM toks LEFT JOIN model m USING (tok), tot t
  GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id, d.lang, s.mean_logp,
         percent_rank() OVER (PARTITION BY d.lang
                              ORDER BY s.mean_logp DESC, s.doc_id ASC) AS pr
  FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, lang, mean_logp,
       CASE WHEN pr < 1.0/3.0 THEN 'head'
            WHEN pr < 2.0/3.0 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
"""


def q_dsir_select(spark, sf):
    """DSIR importance resampling (operators/dsir.py, Xie et al.
    2023): select 60 corpus docs whose hashed unigram+bigram
    distribution best matches the German slice (the target), via
    add-1-smoothed log-likelihood-ratio weights and deterministic
    Gumbel top-n. Both model fits are bucket-bounded aggregates; the
    ratio table broadcasts; selection is TakeOrderedAndProject. The
    oracle replays every md5 bucket, both fits, the ratio sum and
    the Gumbel draw — exact id-set and 6-dp weight match."""
    from platypus_ingestion_plugins_spark.operators.dsir import dsir_select

    d = _t(spark, sf, "documents")
    target = d.filter(F.col("lang") == "de")
    raw = d.filter(F.col("lang") != "de")
    return dsir_select(raw, target, 60, buckets=4096).select(
        "doc_id", "lang", "logw"
    )


SQL_DSIR_SELECT = f"""
WITH tt AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
                             x -> x <> '') AS t
  FROM documents WHERE lang = 'de'),
rt AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
                             x -> x <> '') AS t
  FROM documents WHERE lang <> 'de'),
tg AS (
  SELECT doc_id, unnest(t) AS g FROM tt
  UNION ALL
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                       i -> t[i] || ' ' || t[i+1])) AS g
  FROM tt WHERE len(t) > 1),
rg AS (
  SELECT doc_id, unnest(t) AS g FROM rt
  UNION ALL
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                       i -> t[i] || ' ' || t[i+1])) AS g
  FROM rt WHERE len(t) > 1),
tb AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096
                AS bucket FROM tg),
rb AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096
                AS bucket FROM rg),
tc AS (SELECT bucket, count(*) AS cnt FROM tb GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS cnt FROM rb GROUP BY bucket),
ttot AS (SELECT sum(cnt) AS v FROM tc),
rtot AS (SELECT sum(cnt) AS v FROM rc),
ratio AS (
  SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
         ln(coalesce(tc.cnt, 0) + 1.0) - ln(ttot.v + 4096.0)
         - ln(coalesce(rc.cnt, 0) + 1.0) + ln(rtot.v + 4096.0) AS logr
  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket, ttot, rtot),
w AS (
  SELECT rb.doc_id, sum(ratio.logr) AS logw
  FROM rb JOIN ratio USING (bucket) GROUP BY rb.doc_id),
sc AS (
  SELECT doc_id, logw,
         logw - ln(-ln(greatest(
             {_UNIT_SQL.format(salt="dsir", key="doc_id")}, 1e-12)))
           AS score
  FROM w),
picked AS (SELECT doc_id, logw FROM sc ORDER BY score DESC, doc_id LIMIT 60)
SELECT p.doc_id, d.lang, round(p.logw, 6) AS logw
FROM picked p JOIN documents d USING (doc_id)
"""




def q_gopher_quality(spark, sf):
    """The Gopher rule set (Rae et al. 2021 Table A1 — the heuristics
    FineWeb/Dolma reuse verbatim): seven per-document boolean rules +
    the conjunction, all deterministic integer/char arithmetic in one
    codegen projection — map-only, shuffle-free, no UDF. The oracle
    replicates every flag bit-for-bit."""
    from platypus_ingestion_plugins_spark.functions.text import (
        gopher_quality_flags,
    )

    d = _t(spark, sf, "documents")
    return gopher_quality_flags(d, "text", "doc_id")


SQL_GOPHER_QUALITY = """
WITH w AS (
  SELECT doc_id, coalesce(text, '') AS text,
         list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                     x -> x <> '') AS words,
         string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         greatest(len(words), 1)::DOUBLE AS nw,
         list_sum(list_transform(words, x -> length(x)))::DOUBLE
           / greatest(len(words), 1) AS mean_len,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         len(string_split(text, '...')) - 1 AS n_ellipsis,
         greatest(len(lines), 1)::DOUBLE AS n_lines,
         len(list_filter(lines,
             l -> regexp_matches(trim(l), '^([-*\u2022])'))) AS bullet_lines,
         len(list_filter(lines,
             l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS ellipsis_lines,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
         len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
             s -> list_contains(list_transform(words, x -> lower(x)), s)))
           AS n_stop
  FROM w),
f AS (
  SELECT doc_id,
         n_words >= 50 AND n_words <= 100000 AS r_word_count,
         mean_len >= 3.0 AND mean_len <= 10.0 AS r_mean_word_len,
         (n_hash + n_ellipsis) / nw <= 0.1 AS r_symbol_ratio,
         bullet_lines / n_lines < 0.9 AS r_bullet_lines,
         ellipsis_lines / n_lines <= 0.3 AS r_ellipsis_lines,
         alpha_words / nw >= 0.8 AS r_alpha_words,
         n_stop >= 2 AS r_stopwords
  FROM m)
SELECT doc_id, r_word_count, r_mean_word_len, r_symbol_ratio,
       r_bullet_lines, r_ellipsis_lines, r_alpha_words, r_stopwords,
       r_word_count AND r_mean_word_len AND r_symbol_ratio
         AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
         AND r_stopwords AS gopher_pass
FROM f
"""


def q_c4_filter(spark, sf):
    """The C4 cleaning rules (Raffel et al. 2020 JMLR §2.2 — the
    other canonical public rule set next to Gopher's): line-level
    retention (terminal punctuation, >= 5 words, no "javascript")
    plus page-level flags (>= 3 sentences in kept text, no
    "lorem ipsum", no brace) — one codegen projection, map-only, no
    UDF (functions/text.py:c4_line_filter). The oracle replays every
    line decision and flag bit-for-bit."""
    from platypus_ingestion_plugins_spark.functions.text import (
        c4_line_filter,
    )

    d = _t(spark, sf, "documents")
    return c4_line_filter(d, "text", "doc_id")


SQL_C4_FILTER = """
WITH w AS (
  SELECT doc_id, coalesce(text, '') AS text,
         string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents),
k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l ->
             regexp_matches(trim(l), '[.!?"]$')
             AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                                 x -> x <> '')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept_lines
  FROM w),
m AS (
  SELECT doc_id, text, lines, kept_lines,
         -- array_to_string([]) is NULL in DuckDB; Spark array_join
         -- gives '' — coalesce to match
         coalesce(array_to_string(kept_lines, chr(10)), '') AS kept
  FROM k),
f AS (
  SELECT doc_id, kept,
         len(lines) AS n_lines, len(kept_lines) AS n_kept,
         length(kept) - length(regexp_replace(kept, '[.!?]', '', 'g'))
           AS n_sentences,
         NOT contains(lower(text), 'lorem ipsum') AS c4_no_lorem,
         NOT contains(text, '{') AS c4_no_brace
  FROM m)
SELECT doc_id, kept AS text, n_lines, n_kept, n_sentences,
       n_sentences >= 3 AS c4_min_sentences,
       c4_no_lorem, c4_no_brace, TRUE AS c4_no_badwords,
       (n_sentences >= 3) AND c4_no_lorem AND c4_no_brace AS c4_pass
FROM f
"""


def q_bigram_logprob(spark, sf):
    """Interpolated bigram LM scoring (functions/lm.py:
    doc_bigram_logprob) — the KenLM-shaped upgrade of the CCNet
    unigram proxy: p(w2|w1) = 0.75 * MLE bigram + 0.25 * add-alpha
    unigram, mean log over each document's bigram positions. Corpus-
    trained (no external model), both model tables broadcast. vocab
    1024 so OOV smoothing is exercised at every SF; 6-dp rounding
    absorbs libm/summation ulps (the unigram_logprob convention)."""
    from platypus_ingestion_plugins_spark.functions import lm

    d = _t(spark, sf, "documents")
    model, totals = lm.unigram_model(d, "text", vocab_size=1024)
    bgm = lm.bigram_model(d, "text")
    scored = lm.doc_bigram_logprob(
        d, bgm, model, totals, "text", "doc_id", lam=0.75, alpha=0.5
    )
    return scored.select(
        "doc_id", F.round("mean_logp2", 6).alias("mean_logp2"), "n_bigrams"
    )


SQL_BIGRAM_LOGPROB = """
WITH arr AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS ts
  FROM documents),
toks AS (SELECT doc_id, unnest(ts) AS tok FROM arr),
freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM freqs),
vocab AS (SELECT tok, cnt FROM freqs ORDER BY cnt DESC, tok LIMIT 1024),
model AS (SELECT tok, ln(cnt::DOUBLE) - ln(total::DOUBLE) AS logp
          FROM vocab, tot),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(ts) - 1)) AS i, ts
  FROM arr WHERE len(ts) >= 2),
bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2 FROM pos),
bcnt AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2),
bmodel AS (
  SELECT w1, w2, cnt2::DOUBLE / cnt AS p_big
  FROM (SELECT b.w1, b.w2, b.cnt2, f.cnt FROM bcnt b
        JOIN freqs f ON f.tok = b.w1
        ORDER BY b.cnt2 DESC, b.w1, b.w2 LIMIT 1048576)),
scored AS (
  SELECT bg.doc_id,
         ln(0.75 * coalesce(bm.p_big, 0.0)
            + 0.25 * exp(coalesce(m.logp,
                                  ln(0.5) - ln(t.total::DOUBLE)))) AS lp
  FROM bg LEFT JOIN bmodel bm USING (w1, w2)
          LEFT JOIN model m ON m.tok = bg.w2, tot t)
SELECT doc_id, round(sum(lp) / count(*), 6) AS mean_logp2,
       count(*) AS n_bigrams
FROM scored GROUP BY doc_id
"""


def q_stratified_interleave(spark, sf):
    """Mixture-preserving training order (functions/sampling.py:
    stratified_interleave): each source's documents ranked by the
    deterministic unit hash and placed on the rank-midpoint lattice
    (2r-1)/(2n), so any prefix of the global order carries every
    source proportionally. The oracle replays the identical window
    arithmetic; num/den are exact integers — no float compare."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        stratified_interleave,
    )

    d = _t(spark, sf, "documents")
    return stratified_interleave(d, "doc_id", "source").select(
        "doc_id", "source", "interleave_num", "interleave_den"
    )


SQL_STRATIFIED_INTERLEAVE = f"""
WITH h AS (
  SELECT doc_id, source,
         {_UNIT_SQL.format(salt="interleave", key="doc_id")} AS u
  FROM documents)
SELECT doc_id, source,
       2 * row_number() OVER (PARTITION BY source ORDER BY u, doc_id) - 1
         AS interleave_num,
       2 * count(*) OVER (PARTITION BY source) AS interleave_den
FROM h
"""


def q_url_dedup(spark, sf):
    """Canonical-URL dedup (functions/text.py:normalize_url +
    the exact_dedup groupBy shape): three junk-variant URL spellings
    of each resource — www + default port + tracking params + fragment
    + param-order permutation — must collapse to one survivor per
    (source, page) with the min doc_id; the normalization is pure
    codegen regexp/array expressions, the dedup ONE shuffle on the
    canonical string. The oracle replays both."""
    from platypus_ingestion_plugins_spark.functions.text import (
        normalize_url,
    )

    d = _t(spark, sf, "documents")
    u = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("https://WWW."))
        .otherwise(F.lit("https://")),
        F.col("source"),
        F.lit(".com"),
        F.when(F.col("doc_id") % 3 == 1, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=x&b=2&a=1#f"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("?b=2&a=1&gclid=z")),
    )
    return (
        d.select("doc_id", normalize_url(u).alias("url"))
        .groupBy("url")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SQL_URL_DEDUP = """
WITH u0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'https://WWW.'
              ELSE 'https://' END
         || source || '.com'
         || CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE '' END
         || '/page/' || CAST(doc_id % 50 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&b=2&a=1#f'
                 WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
                 ELSE '?b=2&a=1&gclid=z' END AS u
  FROM documents),
p AS (
  SELECT doc_id, u,
         lower(regexp_extract(u,
           '^([hH][tT][tT][pP][sS]?)://([^/?#]+)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 1))
           AS scheme,
         regexp_replace(lower(regexp_extract(u,
           '^([hH][tT][tT][pP][sS]?)://([^/?#]+)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 2)),
           '^www\\.', '') AS host0,
         regexp_replace(regexp_extract(u,
           '^([hH][tT][tT][pP][sS]?)://([^/?#]+)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 3),
           '(.)/$', '\\1') AS path,
         regexp_extract(u,
           '^([hH][tT][tT][pP][sS]?)://([^/?#]+)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$', 4)
           AS qs
  FROM u0),
n AS (
  SELECT doc_id,
         scheme || '://'
         || CASE WHEN scheme = 'http'
                 THEN regexp_replace(host0, ':80$', '')
                 WHEN scheme = 'https'
                 THEN regexp_replace(host0, ':443$', '')
                 ELSE host0 END
         || path
         || CASE WHEN qsn <> '' THEN '?' || qsn ELSE '' END AS url
  FROM (SELECT *,
               coalesce(array_to_string(list_sort(list_filter(
                 string_split(qs, '&'),
                 x -> x <> '' AND NOT regexp_matches(
                        x, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&'), '')
                 AS qsn
        FROM p))
SELECT url, min(doc_id) AS doc_id, count(*) AS n_copies
FROM n GROUP BY url
"""


def q_paragraph_dedup(spark, sf):
    """Paragraph-unit boilerplate scrub (dedup.line_dedup(sep="\\n\\n")
    — RefinedWeb §3.2's exact paragraph dedup): every doc gains a
    TWO-LINE promo paragraph branded per source (hot within its
    source's >= 2 docs, so scrubbed WHOLE — its individual lines are
    never units) plus its own text as the surviving paragraph."""
    d = _t(spark, sf, "documents")
    t2 = F.concat(
        F.col("text"),
        F.lit("\n\nPromo paragraph for "),
        F.col("source"),
        F.lit("\nsecond promo line"),
    )
    return dedup.line_dedup(
        d.select("doc_id", t2.alias("text")),
        "text",
        "doc_id",
        min_df=2,
        sep="\n\n",
    ).select("doc_id", "text", "n_lines", "n_dropped")


SQL_PARAGRAPH_DEDUP = """
WITH src AS (
  SELECT doc_id,
         text || chr(10) || chr(10) || 'Promo paragraph for ' || source
              || chr(10) || 'second promo line' AS text
  FROM documents),
split AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l FROM src),
ln AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM split),
keyed AS (
  SELECT doc_id, i - 1 AS line_no, l[i] AS line,
         trim(lower(l[i])) AS k, trim(l[i]) = '' AS blank
  FROM ln),
hot AS (
  SELECT k FROM keyed WHERE NOT blank
  GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
kept AS (
  SELECT doc_id, line_no, line,
         (k IN (SELECT k FROM hot)) AND NOT blank AS dropped
  FROM keyed)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                           chr(10) || chr(10) ORDER BY line_no), '') AS text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM kept GROUP BY doc_id
"""


def q_quality_classifier(spark, sf):
    """In-engine trained quality classifier (functions/classifier.py)
    — the GPT-3/FineWeb-Edu pattern with the model TRAINED here, not
    hosted: two full-batch logistic-regression iterations over hashed
    unigram+bigram features (the DSIR bucket convention), labels
    y = (lang = 'en'), 9-dp-rounded gradients so the weight iterates
    are engine-reproducible; then the corpus scored under the trained
    weights. The oracle replays BOTH training iterations in closed
    form (iteration 1's sigmoid is exactly 0.5 from the zero init)
    and the scoring pass, 6-dp margins."""
    from platypus_ingestion_plugins_spark.functions.classifier import (
        doc_features,
        score_logreg,
        train_logreg,
    )

    d = _t(spark, sf, "documents")
    labels = d.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    # single-evaluation checkpoint (r16, the winnow/LSH pattern): the
    # feature frame feeds BOTH the training join (persisted inside
    # train_logreg) and the corpus-scoring pass — without it the
    # explode+md5+groupBy extraction runs twice, once per reference
    # (measured 4.2 s -> 2.7 s at sf0.1, interleaved min-of-3)
    feats = doc_features(d, "text", "doc_id", dim=4096).localCheckpoint(
        eager=False
    )
    w = train_logreg(feats, labels, "doc_id", "y", iters=2, lr=1.0)
    return score_logreg(feats, w, "doc_id").select(
        "doc_id", F.round("margin", 6).alias("margin")
    )


def q_language_classifier(spark, sf):
    """Trained fastText-style language classifier (NEW r12, VERDICT
    r11 task #8; Joulin et al. 2016): one-vs-rest logistic regression
    over hashed CHARACTER trigram features
    (functions/classifier.char_gram_features — the language signal
    the stopword heuristic in text.language_id can't see), all K
    classes fit simultaneously keyed on (class, bucket) with the
    quality_classifier determinism contract (zero init, 9-dp-rounded
    gradients), then the corpus scored and argmax'd with 6-dp margins
    and lexicographic tie-break. Training runs on the deterministic
    ``doc_id % 10 == 0`` sample (r12 bench follow-up: full-corpus
    training made this the suite's slowest query at 14 s) — the
    sample-train / corpus-score shape every trained operator here
    preaches, and trivially oracle-replayable. The oracle replays
    BOTH training iterations in closed form over the same sample and
    the full scoring pass — the train-then-predict cycle is
    value-checked, not just scoring."""
    from platypus_ingestion_plugins_spark.functions.classifier import (
        char_gram_features,
        predict_ovr,
        train_logreg_ovr,
    )

    d = _t(spark, sf, "documents")
    # NO single-evaluation checkpoint here, unlike quality_classifier
    # (r16 revisit, scripts/ab_classifier_ckpt.py): training consumes
    # only the doc_id % 10 sample, and without a checkpoint that
    # filter pushes INTO the extraction (scan-level prune), so the
    # full char-trigram evaluation runs ~1.1x total. Checkpointing
    # materializes the fat full-corpus trigram frame (~2k buckets/doc)
    # before the sample filter can prune — a wash at sf0.1
    # (5.33 s none vs 5.58 s ckpt, interleaved min-of-3) and 2x worse
    # at sf1 (10.96 s vs 20.78 s). quality_classifier KEEPS its
    # checkpoint: it trains full-corpus, so both references need the
    # whole frame (3.66 s vs 6.08 s at sf0.1, 6.51 s vs 10.05 s at
    # sf1, same probe).
    feats = char_gram_features(d, "text", "doc_id", n=3, dim=2048)
    w = train_logreg_ovr(
        feats.filter(F.col("doc_id") % 10 == 0),
        d.select("doc_id", "lang").filter(F.col("doc_id") % 10 == 0),
        "doc_id", "lang", iters=2,
    )
    return predict_ovr(feats, w, "doc_id", out_col="pred_lang")


SQL_LANGUAGE_CLASSIFIER = """
WITH lab AS (SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 0),
cls AS (SELECT DISTINCT lang AS c FROM lab),
chars AS (SELECT doc_id, lower(text) AS lt FROM documents),
g AS (
  SELECT doc_id, substr(lt, i.g, 3) AS gr
  FROM chars, unnest(generate_series(1, length(lt) - 2)) AS i(g)
  WHERE length(lt) >= 3),
b AS (SELECT doc_id,
             CAST(('0x' || substr(md5(gr), 1, 15)) AS BIGINT) % 2048 AS bucket
      FROM g),
f0 AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket),
tl AS (SELECT doc_id, sum(cnt) AS n FROM f0 GROUP BY doc_id),
f AS (SELECT f0.doc_id, bucket, cnt::DOUBLE / n AS val
      FROM f0 JOIN tl USING (doc_id)),
ft AS (SELECT f.* FROM f JOIN lab USING (doc_id)),
nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM ft),
g1 AS (
  SELECT cls.c, bucket,
         round(sum(val * (0.5 - CASE WHEN lab.lang = cls.c
                                     THEN 1.0 ELSE 0.0 END))
               / nn.n_docs, 9) AS gr
  FROM ft JOIN lab USING (doc_id) CROSS JOIN cls, nn
  GROUP BY cls.c, bucket, nn.n_docs),
w1 AS (SELECT c, bucket, -gr AS w FROM g1),
m2 AS (
  SELECT ft.doc_id, cls.c, sum(val * coalesce(w1.w, 0)) AS m
  FROM ft CROSS JOIN cls
  LEFT JOIN w1 ON w1.c = cls.c AND w1.bucket = ft.bucket
  GROUP BY ft.doc_id, cls.c),
e2 AS (
  SELECT m2.doc_id, m2.c,
         1.0 / (1.0 + exp(-m)) - CASE WHEN lab.lang = m2.c
                                      THEN 1.0 ELSE 0.0 END AS e
  FROM m2 JOIN lab USING (doc_id)),
g2 AS (
  SELECT e2.c, ft.bucket, round(sum(ft.val * e2.e) / nn.n_docs, 9) AS gr
  FROM ft JOIN e2 USING (doc_id), nn GROUP BY e2.c, ft.bucket, nn.n_docs),
w2 AS (
  SELECT coalesce(w1.c, g2.c) AS c,
         coalesce(w1.bucket, g2.bucket) AS bucket,
         coalesce(w1.w, 0) - coalesce(g2.gr, 0) AS w
  FROM w1 FULL JOIN g2 ON w1.c = g2.c AND w1.bucket = g2.bucket),
sm AS (
  SELECT f.doc_id, w2.c, round(sum(f.val * w2.w), 6) AS margin
  FROM f JOIN w2 USING (bucket) GROUP BY f.doc_id, w2.c),
rk AS (
  SELECT doc_id, c, margin,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY margin DESC, c ASC) AS rn
  FROM sm)
SELECT doc_id, c AS pred_lang, margin FROM rk WHERE rn = 1
"""


SQL_QUALITY_CLASSIFIER = """
WITH arr AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id, unnest(t) AS g FROM arr
  UNION ALL
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                       i -> t[i] || ' ' || t[i+1])) AS g
  FROM arr WHERE len(t) > 1),
b AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096
             AS bucket FROM g),
f0 AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
tl AS (SELECT doc_id, sum(c) AS n FROM f0 GROUP BY doc_id),
f AS (SELECT f0.doc_id, bucket, c::DOUBLE / n AS val
      FROM f0 JOIN tl USING (doc_id)),
lab AS (SELECT doc_id, y FROM arr),
nn AS (SELECT count(DISTINCT doc_id) AS n_docs
       FROM f JOIN lab USING (doc_id)),
g1 AS (
  SELECT bucket, round(sum(val * (0.5 - y)) / nn.n_docs, 9) AS gr
  FROM f JOIN lab USING (doc_id), nn GROUP BY bucket, nn.n_docs),
w1 AS (SELECT bucket, -gr AS w FROM g1),
m2 AS (
  SELECT f.doc_id, sum(val * coalesce(w1.w, 0)) AS m
  FROM f LEFT JOIN w1 USING (bucket) GROUP BY f.doc_id),
e2 AS (
  SELECT m2.doc_id, 1.0 / (1.0 + exp(-m)) - y AS e
  FROM m2 JOIN lab USING (doc_id)),
g2 AS (
  SELECT bucket, round(sum(val * e) / nn.n_docs, 9) AS gr
  FROM f JOIN e2 USING (doc_id), nn GROUP BY bucket, nn.n_docs),
w2 AS (
  SELECT w1.bucket, w1.w - coalesce(g2.gr, 0) AS w
  FROM w1 LEFT JOIN g2 USING (bucket)),
sc AS (
  SELECT f.doc_id, sum(val * coalesce(w2.w, 0)) AS margin
  FROM f LEFT JOIN w2 USING (bucket) GROUP BY f.doc_id)
SELECT doc_id, round(margin, 6) AS margin FROM sc
"""


def q_corpus_profile(spark, sf):
    """Dataset-card profile per source (operators/profile.py): doc/
    token/char totals, exact interpolated length percentiles (the
    `percentile` == `quantile_cont` identity), distinct-text count
    and exact-dup ratio — ONE group-bounded aggregation pass, every
    aggregate partial-aggregatable or per-group sort-based."""
    from platypus_ingestion_plugins_spark.operators.profile import (
        corpus_profile,
    )

    d = _t(spark, sf, "documents")
    return corpus_profile(d, "text", by="source")


SQL_CORPUS_PROFILE = """
WITH b AS (
  SELECT source,
         coalesce(text, '') AS t,
         length(coalesce(text, '')) AS l,
         len(list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\\W+'), x -> x <> '')) AS tok
  FROM documents)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       CAST(sum(l) AS BIGINT) AS n_chars,
       round(quantile_cont(l, 0.5), 6) AS chars_p50,
       round(quantile_cont(l, 0.9), 6) AS chars_p90,
       round(quantile_cont(l, 0.99), 6) AS chars_p99,
       count(DISTINCT t) AS n_distinct_texts,
       round((count(*) - count(DISTINCT t))::DOUBLE / count(*), 6)
         AS dup_ratio
FROM b GROUP BY source
"""


_BPE_FROZEN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "bpe_merges_frozen.txt",
)


def q_bpe_token_count(spark, sf):
    """REAL BPE token counts (functions/bpe.py) under a FROZEN merge
    table (tests/fixtures/bpe_merges_frozen.txt — 32 merges learned
    once by learn_bpe from the sf0.001 fixture and committed; VERDICT
    r11 task #2). Loading via load_merges_txt exercises the
    production merges.txt path; the table is broadcast model-sized to
    an Arrow-batched apply with a per-batch distinct-word cache.

    The oracle is now a FULL value check, not rows-only: for a
    well-formed merge table (every merge's parts are base chars or
    earlier merges' outputs — true of any learn_bpe/published table),
    applying merges sequentially in rank order, each as an exhaustive
    left-to-right pass, is equivalent to the lowest-rank-first apply
    loop (a merge can only create pairs involving its output symbol,
    and any merge consuming that symbol has a higher rank). So the
    oracle replays encoding as a bounded chain of string replaces
    over a token-wrapped representation — see _bpe_oracle_sql."""
    from platypus_ingestion_plugins_spark.functions.bpe import (
        bpe_encode,
        load_merges_txt,
    )

    d = _t(spark, sf, "documents")
    merges = load_merges_txt(_BPE_FROZEN)
    return bpe_encode(d, "text", "doc_id", merges).select(
        "doc_id", "n_bpe_tokens"
    )


def _bpe_word_rep_sql(var: str) -> str:
    """The frozen-merge-table replay expression for ONE word held in
    SQL variable ``var``: full STX·sym·ETX wrapping + one replace()
    per merge in rank order (see _bpe_count_ctes for why adjacent
    matches can't share characters)."""
    from platypus_ingestion_plugins_spark.functions.bpe import (
        load_merges_txt,
    )

    stx, etx = "\x02", "\x03"

    def esc(s: str) -> str:
        return s.replace("'", "''")

    expr = (
        f"array_to_string(list_transform(string_split({var}, ''), "
        f"c -> '{stx}' || c || '{etx}'), '') || '{stx}</w>{etx}'"
    )
    for a, b in load_merges_txt(_BPE_FROZEN):
        expr = (
            f"replace({expr}, '{esc(stx + a + etx + stx + b + etx)}', "
            f"'{esc(stx + a + b + etx)}')"
        )
    return expr


def _bpe_count_ctes() -> str:
    """The shared BPE-replay CTE chain (words -> reps -> per_doc ->
    bpe_counts) generated from the frozen merge table: each word
    becomes STX-c-ETX per char + STX-</w>-ETX (full wrapping, so
    adjacent replace matches share no characters and left-to-right
    non-overlapping replace == leftmost-greedy merge), then one
    replace() per merge in rank order. Token count per word = count
    of STX. The fixture corpus is ASCII with no STX/ETX (asserted at
    freeze time), so the wrap chars cannot collide with text."""
    expr = _bpe_word_rep_sql("w")
    stx = "\x02"
    return f"""
WITH words AS (
  SELECT doc_id,
         unnest(regexp_extract_all(coalesce(text, ''), '\\w+|[^\\w\\s]')) AS w
  FROM documents),
reps AS (
  SELECT doc_id, {expr} AS rep FROM words),
per_doc AS (
  SELECT doc_id,
         sum(length(rep) - length(replace(rep, '{stx}', ''))) AS n
  FROM reps GROUP BY doc_id),
bpe_counts AS (
  SELECT d.doc_id, d.lang, CAST(coalesce(p.n, 0) AS BIGINT) AS n_bpe_tokens
  FROM documents d LEFT JOIN per_doc p USING (doc_id))
"""


def _bpe_oracle_sql() -> str:
    return (
        _bpe_count_ctes()
        + "SELECT doc_id, n_bpe_tokens FROM bpe_counts"
    )


def q_budget_select_bpe(spark, sf):
    """BPE-true token accounting through the curation chain (VERDICT
    r12 task #6): real bpe_encode counts under the frozen merge table
    feed select_token_budget (per-language 6k-BPE-token budgets,
    quality-priority fill) and the selection feeds pack_bins (512-token
    context windows over 4 shards) — every n_tokens_col in the chain
    is a genuine tokenizer count, not the 4-chars heuristic the other
    oracles use. The oracle replays the whole pipeline: the bounded
    replace-chain BPE replay, the per-lang cumsum window, and the
    deterministic shuffle/offset/bin layout."""
    from platypus_ingestion_plugins_spark.functions.bpe import (
        bpe_encode,
        load_merges_txt,
    )
    from platypus_ingestion_plugins_spark.functions.sampling import (
        select_token_budget,
    )
    from platypus_ingestion_plugins_spark.operators.export import pack_bins

    d = _t(spark, sf, "documents")
    merges = load_merges_txt(_BPE_FROZEN)
    counts = bpe_encode(d, "text", "doc_id", merges).select(
        "doc_id", "n_bpe_tokens"
    )
    scored = d.select("doc_id", "lang").join(counts, "doc_id")
    sel = select_token_budget(
        scored,
        "doc_id",
        "n_bpe_tokens",
        6_000,
        by="lang",
        priority_col="n_bpe_tokens",
    )
    return pack_bins(
        sel, "doc_id", "n_bpe_tokens", target_tokens=512, n_shards=4
    ).select("doc_id", "lang", "n_bpe_tokens", "shard", "offset", "bin")


def _bpe_budget_select_sql() -> str:
    u = _UNIT_SQL.format(salt="shuffle", key="doc_id")
    return (
        _bpe_count_ctes()
        + f""",
sel AS (
  SELECT doc_id, lang, n_bpe_tokens FROM (
    SELECT doc_id, lang, n_bpe_tokens,
           sum(n_bpe_tokens) OVER (
             PARTITION BY lang ORDER BY n_bpe_tokens DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM bpe_counts)
  WHERE cum <= 6000),
a AS (
  SELECT doc_id, lang, n_bpe_tokens, {u} AS u,
         CAST(floor({u} * 4) AS INT) AS shard
  FROM sel),
c AS (
  SELECT doc_id, lang, n_bpe_tokens, shard,
         CAST(sum(n_bpe_tokens) OVER (
                PARTITION BY shard ORDER BY u, doc_id
                ROWS UNBOUNDED PRECEDING) - n_bpe_tokens AS BIGINT)
           AS "offset"
  FROM a)
SELECT doc_id, lang, n_bpe_tokens, shard, "offset",
       CAST(floor("offset" / 512.0) AS BIGINT) AS bin
FROM c
"""
    )


def q_corpus_overlap(spark, sf):
    """Sketch set arithmetic (functions/sketches.py:
    sketch_overlap_estimate): distinct/union/intersection/novelty
    estimates for two corpus slices from two bounded m=64 min-hash
    states — the "how much new data does drop B add" number WITHOUT
    an O(|A|+|B|) distinct join. Deterministic salted-md5 hashing, so
    the oracle reproduces the ESTIMATES bit-for-bit, not just the
    exact counts."""
    from platypus_ingestion_plugins_spark.functions.sketches import (
        sketch_overlap_estimate,
    )

    d = _t(spark, sf, "documents")
    a = d.filter("doc_id % 3 != 0").select("text")
    b = d.filter("doc_id % 2 != 0").select("text")
    return sketch_overlap_estimate(a, b, "text", m=64)


def _sql_corpus_overlap(m: int = 64) -> str:
    def mins(alias, src):
        return ", ".join(
            "MIN((CAST(('0x' || substr(md5('{i}|' || text), 1, 15)) AS "
            "BIGINT) + 1.0) / 1152921504606846976.0) AS {a}{i}".format(
                i=i, a=alias
            )
            for i in range(m)
        )

    # coalesce mirrors the operator's empty-side rule (NULL min -> 1.0
    # -> estimate 0); both slices are non-empty at every SF, but the
    # oracle replays the expression, not just the value
    sum_a = " + ".join(f"coalesce(a{i}, 1.0)" for i in range(m))
    sum_b = " + ".join(f"coalesce(b{i}, 1.0)" for i in range(m))
    sum_u = " + ".join(
        f"least(coalesce(a{i}, 1.0), coalesce(b{i}, 1.0))" for i in range(m)
    )
    return f"""
WITH sa AS (SELECT {mins('a', 'a')} FROM documents WHERE doc_id % 3 <> 0),
sb AS (SELECT {mins('b', 'b')} FROM documents WHERE doc_id % 2 <> 0),
e AS (
  SELECT {m}.0 / ({sum_a}) - 1.0 AS ea,
         {m}.0 / ({sum_b}) - 1.0 AS eb,
         {m}.0 / ({sum_u}) - 1.0 AS eu
  FROM sa, sb)
SELECT round(ea, 4) AS est_a, round(eb, 4) AS est_b,
       round(eu, 4) AS est_union,
       round(greatest(ea + eb - eu, 0.0), 4) AS est_intersection,
       round(greatest(eb - greatest(ea + eb - eu, 0.0), 0.0), 4)
         AS est_only_b
FROM e
"""


SQL_CORPUS_OVERLAP = _sql_corpus_overlap(64)


def q_tar_scrub(spark, sf):
    """Right-to-be-forgotten over a committed tar export
    (operators/export.scrub_tar_shards): delete the doc_id % 97 == 0
    samples by rewriting ONLY the shards they hash into (the
    deterministic shuffle makes the affected set computable from the
    deletion list alone); untouched shards keep their bytes and
    manifest sha. The read-back must equal documents MINUS the
    scrubbed ids exactly — a key surviving the scrub, or an innocent
    sample lost from a rewritten or preserved shard, breaks the
    hash."""
    import shutil

    from platypus_ingestion_plugins_spark.operators.export import (
        export_tar_shards,
        read_tar_shards,
        scrub_tar_shards,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    victims = [r.doc_id for r in docs.filter("doc_id % 97 = 0").collect()]
    work = _stream_scratch("tar_scrub_")
    out = os.path.join(work, "wds")
    try:
        export_tar_shards(docs, out, "doc_id", {"text": "txt"}, n_shards=8)
        res = scrub_tar_shards(spark, out, {"text": "txt"}, victims)
        if res["n_deleted"] != len(victims):
            raise RuntimeError(f"scrub removed {res['n_deleted']}, "
                               f"expected {len(victims)}")
        _keep_until_exit(work, keep=out)
        return read_tar_shards(
            spark, out, {"txt": "text"}, key_name="k"
        ).select(F.col("k").cast("long").alias("doc_id"), "text")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_TAR_SCRUB = """
SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
"""


def q_pretraining_mix(spark, sf):
    """The full selection/ordering preset (pipelines.
    curate_pretraining_mix): Gopher rule gate (>= 6 of 7 here — the
    synthetic vocabulary legitimately fails the stop-word rule) →
    6-dp quality floor → per-source 800-token budget filled in
    quality-priority order → stratified interleave. The oracle
    replays the ENTIRE chain end to end — rule arithmetic, quality
    formula, strict-prefix budget window, rank-midpoint lattice —
    proving the composition (not just the members) is engine-
    reproducible."""
    d = _t(spark, sf, "documents")
    from platypus_ingestion_plugins_spark.pipelines import (
        curate_pretraining_mix,
    )

    return curate_pretraining_mix(
        d, budget_tokens=800, min_quality=0.6, min_gopher_rules=6
    ).select(
        "doc_id", "source", "n_tokens", "quality",
        "interleave_num", "interleave_den",
    )


SQL_PRETRAINING_MIX = f"""
WITH w AS (
  SELECT doc_id, source, coalesce(text, '') AS text,
         list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                     x -> x <> '') AS words,
         string_split(coalesce(text, ''), chr(10)) AS lines
  FROM documents),
m AS (
  SELECT doc_id, source, text,
         len(words) AS n_words,
         greatest(len(words), 1)::DOUBLE AS nw,
         list_sum(list_transform(words, x -> length(x)))::DOUBLE
           / greatest(len(words), 1) AS mean_len,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         len(string_split(text, '...')) - 1 AS n_ellipsis,
         greatest(len(lines), 1)::DOUBLE AS n_lines,
         len(list_filter(lines,
             l -> regexp_matches(trim(l), '^([-*•])'))) AS bullet_lines,
         len(list_filter(lines,
             l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS ellipsis_lines,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           AS alpha_words,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> list_contains(list_transform(words, x -> lower(x)), s)))
           AS n_stop
  FROM w),
gate AS (
  SELECT doc_id, source, text FROM m
  WHERE (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
      + (CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1 ELSE 0 END)
      + (CASE WHEN (n_hash + n_ellipsis) / nw <= 0.1 THEN 1 ELSE 0 END)
      + (CASE WHEN bullet_lines / n_lines < 0.9 THEN 1 ELSE 0 END)
      + (CASE WHEN ellipsis_lines / n_lines <= 0.3 THEN 1 ELSE 0 END)
      + (CASE WHEN alpha_words / nw >= 0.8 THEN 1 ELSE 0 END)
      + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) >= 6),
q AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(lower(text), '\\W+'),
                         x -> x <> '')) AS n_tokens,
         round(((CASE WHEN length(text) BETWEEN 100 AND 20000
                      THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN length(text)::DOUBLE / greatest(
                        len(list_filter(string_split_regex(lower(text),
                          '\\W+'), x -> x <> '')), 1) >= 3.0
                      AND length(text)::DOUBLE / greatest(
                        len(list_filter(string_split_regex(lower(text),
                          '\\W+'), x -> x <> '')), 1) <= 12.0
                      THEN 1.0 ELSE 0.0 END)
              + length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                / greatest(length(text), 1)) / 3.0, 6) AS quality
  FROM gate),
sel AS (
  SELECT doc_id, source, n_tokens, quality FROM (
    SELECT doc_id, source, n_tokens, quality,
           sum(n_tokens) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM q WHERE quality >= 0.6)
  WHERE cum <= 800),
h AS (
  SELECT doc_id, source, n_tokens, quality,
         {_UNIT_SQL.format(salt="interleave", key="doc_id")} AS u
  FROM sel)
SELECT doc_id, source, n_tokens, quality,
       2 * row_number() OVER (PARTITION BY source ORDER BY u, doc_id) - 1
         AS interleave_num,
       2 * count(*) OVER (PARTITION BY source) AS interleave_den
FROM h
"""


def q_stream_profile(spark, sf):
    """LIVE corpus datasheet on an ingest stream (operators/profile.
    profile_merge_into): documents arrive in two drops through a real
    checkpointed foreachBatch; per-source counts accumulate
    ALGEBRAICALLY (exact — the oracle's sums), length quantiles come
    from the merged bottom-k hash sample, distinct-text/dup-ratio
    from the per-source KMV state — all three under the shared
    epoch-pinned commit, all deterministic, so the oracle reproduces
    every number including the estimates."""
    import shutil

    from platypus_ingestion_plugins_spark.operators.profile import (
        profile_merge_into,
        profile_read,
    )

    d = _t(spark, sf, "documents").select("doc_id", "source", "text")
    lo, hi = _median_split(d, "doc_id")
    work = _stream_scratch("stream_prof_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        state = os.path.join(work, "profile")

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(
                    lambda b, bid: profile_merge_into(
                        b, "text", "doc_id", "source", state,
                        k=256, batch_id=bid,
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        out = profile_read(spark, state, "source").select(
            "source", "n_docs", "n_tokens", "n_chars",
            "chars_p50", "chars_p90", "chars_p99",
            "est_distinct_texts", "est_dup_ratio",
        )
        # materialize before the scratch dir is scheduled for cleanup
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def _sql_stream_profile(m: int = 64, k: int = 256) -> str:
    mins = ", ".join(
        "MIN((CAST(('0x' || substr(md5('{i}|' || sha), 1, 15)) AS BIGINT)"
        " + 1.0) / 1152921504606846976.0) AS k{i}".format(i=i)
        for i in range(m)
    )
    total = " + ".join(f"k{i}" for i in range(m))
    return f"""
WITH b AS (
  SELECT source, coalesce(text, '') AS t, doc_id,
         length(coalesce(text, '')) AS l,
         len(list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '\\W+'), x -> x <> '')) AS tok,
         sha256(coalesce(text, '')) AS sha,
         {_UNIT_SQL.format(salt="profile", key="doc_id")} AS u
  FROM documents),
counts AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS n_tokens,
         CAST(sum(l) AS BIGINT) AS n_chars
  FROM b GROUP BY source),
smp AS (
  SELECT source, l FROM (
    SELECT source, l,
           row_number() OVER (PARTITION BY source ORDER BY u, l) AS rn
    FROM b) WHERE rn <= {k}),
qs AS (
  SELECT source,
         round(quantile_cont(l, 0.5), 6) AS chars_p50,
         round(quantile_cont(l, 0.9), 6) AS chars_p90,
         round(quantile_cont(l, 0.99), 6) AS chars_p99
  FROM smp GROUP BY source),
dk AS (SELECT source, {mins} FROM b GROUP BY source),
dd AS (
  SELECT source, round({m}.0 / ({total}) - 1.0, 4) AS est_distinct_texts
  FROM dk)
SELECT c.source, c.n_docs, c.n_tokens, c.n_chars,
       q.chars_p50, q.chars_p90, q.chars_p99,
       d.est_distinct_texts,
       round(greatest((c.n_docs - d.est_distinct_texts)
                      / c.n_docs::DOUBLE, 0.0), 4) AS est_dup_ratio
FROM counts c JOIN qs q USING (source) JOIN dd d USING (source)
"""


SQL_STREAM_PROFILE = _sql_stream_profile(64, 256)


def q_mixture_plan(spark, sf):
    """Mixture planning (functions/sampling.solve_mixture): per-source
    available tokens (the corpus_profile aggregate) against a
    deterministic spec (weight index cycling 1,2,3 over the sorted
    source list), budget 50k: normalized weights, per-source
    requirements and epochs, and the feasible-budget cap bound by the
    scarcest weighted source. Pure group-bounded arithmetic — the
    oracle replays every ratio."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        solve_mixture,
    )
    from platypus_ingestion_plugins_spark.functions.text import token_count

    d = _t(spark, sf, "documents")
    counts = d.groupBy("source").agg(
        F.sum(token_count("text")).alias("n_tokens")
    )
    srcs = sorted(r.source for r in counts.select("source").collect())
    weights = {s: float(i % 3 + 1) for i, s in enumerate(srcs)}
    return solve_mixture(counts, weights, budget_tokens=50_000)


SQL_MIXTURE_PLAN = """
WITH counts AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split_regex(lower(text),
                '\\W+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
spec AS (
  SELECT source, n_tokens,
         ((row_number() OVER (ORDER BY source) - 1) % 3 + 1)::DOUBLE AS wr
  FROM counts),
norm AS (
  SELECT source, n_tokens, wr / (SELECT sum(wr) FROM spec) AS wn FROM spec),
feas AS (
  SELECT round(min(CASE WHEN wn > 0
                        THEN 1.0 * n_tokens / wn END), 6) AS fb
  FROM norm)
SELECT source,
       n_tokens AS avail_tokens,
       round(wn, 6) AS weight,
       round(wn * 50000, 3) AS required_tokens,
       round(wn * 50000 / n_tokens, 6) AS epochs,
       feas.fb AS feasible_budget,
       coalesce(round(CASE WHEN wn > 0 THEN 1.0 * n_tokens / wn END, 6)
                  = feas.fb, FALSE) AS binding
FROM norm, feas
"""


def q_geo_distance(spark, sf):
    """Geo-distance query (NEW r15, operators/geo — the read-side twin
    of GeoShardingStrategy, VERDICT r14 task #7): rows within 3000 km
    of (48, 2) with the great-circle distance, over coordinates
    derived deterministically from the order key (testdata carries no
    geo columns; both engines replay the same integer-hash
    derivation). Plan shape: pushdown-able bounding-box BETWEEN
    pre-filter, then the exact haversine (codegen trig) on box
    survivors; the partition-prune path over a geo-cell layout is
    pinned by the input-file-metrics unit test. Distances keep the
    operator's single 6dp round — the raw doubles are bit-identical
    across engines (verified for this derivation), and a SECOND
    round is exactly what diverges: Spark re-rounds the decimal
    2454.384350 half-up while DuckDB re-rounds its double
    2454.38434999... down (the classic double-rounding trap) — round
    once, never twice."""
    from platypus_ingestion_plugins_spark.operators import geo

    pts = _t(spark, sf, "orders").select(
        "o_orderkey",
        ((F.col("o_orderkey") * F.lit(7919)) % F.lit(17000) / F.lit(100.0)
         - F.lit(85.0)).alias("lat"),
        ((F.col("o_orderkey") * F.lit(104729)) % F.lit(36000) / F.lit(100.0)
         - F.lit(180.0)).alias("lon"),
    )
    out = geo.geo_distance(pts, "lat", "lon", 48.0, 2.0, 3000.0)
    return out.select("o_orderkey", "dist_km")


SQL_GEO_DISTANCE = """
WITH pts AS (
  SELECT o_orderkey,
         (o_orderkey * 7919) % 17000 / 100.0 - 85.0 AS lat,
         (o_orderkey * 104729) % 36000 / 100.0 - 180.0 AS lon
  FROM orders),
d AS (
  SELECT o_orderkey,
         round(2.0 * 6371.0088 * asin(
             CASE WHEN sqrt(s) > 1.0 THEN 1.0 ELSE sqrt(s) END), 6) AS dist_km
  FROM (
    SELECT o_orderkey,
           sin(radians(48.0 - lat) / 2.0) * sin(radians(48.0 - lat) / 2.0)
           + cos(radians(lat)) * cos(radians(48.0))
             * (sin(radians(2.0 - lon) / 2.0) * sin(radians(2.0 - lon) / 2.0))
             AS s
    FROM pts))
SELECT o_orderkey, dist_km
FROM d WHERE dist_km <= 3000.0
"""


def q_indexed_regexp(spark, sf):
    """RegexpQuery (NEW r15, text_index.search_regexp_indexed +
    query.match_regexp, VERDICT r14 task #8): Lucene's anchored
    whole-term regexp, rewritten against the term DICTIONARY
    (TooManyClauses-capped) into a pruned posting read. The oracle
    replays the scan path (regexp_full_match over analyzed tokens) so
    the two algorithms cross-validate; n_matched counts distinct
    matched terms per doc. Unit test pins indexed == scan, anchoring,
    invalid-pattern raise, the cap, and tombstones."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.search_regexp_indexed(
        spark, idx, "s(c|h)a[nr].*|engine?s?", id_col="doc_id"
    )


SQL_INDEXED_REGEXP = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents)
SELECT doc_id, CAST(count(*) AS INT) AS n_matched
FROM toks WHERE regexp_matches(term, '^(?:s(c|h)a[nr].*|engine?s?)$')
GROUP BY doc_id
"""


def q_geo_grid(spark, sf):
    """Geo-grid bucket aggregation (NEW r15, operators/geo.
    geo_grid_counts — the ES geohash_grid/geotile_grid agg on the flat
    cell grid): doc counts + cell centers per 15-degree cell over the
    order-key-derived coordinates (the geo_distance derivation). One
    partial-aggregatable groupBy over the codegen cell id; output is
    grid-bounded (<= 288 cells), never corpus-sized."""
    from platypus_ingestion_plugins_spark.operators import geo

    pts = _t(spark, sf, "orders").select(
        ((F.col("o_orderkey") * F.lit(7919)) % F.lit(17000) / F.lit(100.0)
         - F.lit(85.0)).alias("lat"),
        ((F.col("o_orderkey") * F.lit(104729)) % F.lit(36000) / F.lit(100.0)
         - F.lit(180.0)).alias("lon"),
    )
    return geo.geo_grid_counts(pts, "lat", "lon", cell_deg=15.0, min_count=2)


SQL_GEO_GRID = """
WITH pts AS (
  SELECT (o_orderkey * 7919) % 17000 / 100.0 - 85.0 AS lat,
         (o_orderkey * 104729) % 36000 / 100.0 - 180.0 AS lon
  FROM orders),
cells AS (
  SELECT CAST(least(floor((lat + 90.0) / 15.0), 11) * 24
              + least(floor((lon + 180.0) / 15.0), 23) AS INT) AS cell
  FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL),
agg AS (SELECT cell, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY cell)
SELECT cell,
       round(floor(cell / 24) * 15.0 - 90.0 + 7.5, 6) AS center_lat,
       round((cell % 24) * 15.0 - 180.0 + 7.5, 6) AS center_lon,
       cnt
FROM agg WHERE cnt >= 2
"""


def q_stickiness(spark, sf):
    """DAU/WAU stickiness (NEW r15, operators/analytics.stickiness):
    per calendar week, active users, mean daily-active count over
    active days, and their ratio — the engagement readout next to
    funnel/retention. Two partial-aggregatable distinct aggregations
    joined on the week grid (a curve); (period, user) shuffle keys."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        stickiness,
    )

    return stickiness(
        _events_ts(spark, sf), "user_id", "ts", period="week"
    ).select(
        F.date_format("month", "yyyy-MM-dd").alias("week"),
        "mau",
        "avg_dau",
        "stickiness",
    )


SQL_STICKINESS = """
WITH base AS (
  SELECT user_id AS u, date_trunc('day', ts) AS d, date_trunc('week', ts) AS m
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
dau AS (
  SELECT m, round(avg(dau), 6) AS avg_dau FROM (
    SELECT m, d, count(*) AS dau FROM (SELECT DISTINCT m, d, u FROM base)
    GROUP BY m, d)
  GROUP BY m),
mau AS (
  SELECT m, CAST(count(*) AS BIGINT) AS mau
  FROM (SELECT DISTINCT m, u FROM base) GROUP BY m)
SELECT strftime(m, '%Y-%m-%d') AS week, mau, avg_dau,
       round(avg_dau / mau, 6) AS stickiness
FROM mau JOIN dau USING (m)
"""


def q_percentile_ranks(spark, sf):
    """Percentile-ranks facet (NEW r15, serving/query.
    percentile_ranks_facet — the ES percentile_ranks agg, EXACT where
    ES TDigests): % of lineitem prices at or below each probe value.
    One partial-aggregatable pass with k conditional sums."""
    return SQ.percentile_ranks_facet(
        _t(spark, sf, "lineitem"),
        "l_extendedprice",
        [1000.0, 25000.0, 60000.0, 110000.0],
    )


SQL_PERCENTILE_RANKS = """
WITH s AS (
  SELECT count(l_extendedprice) AS n,
         sum(CASE WHEN l_extendedprice <= 1000.0 THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN l_extendedprice <= 25000.0 THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN l_extendedprice <= 60000.0 THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN l_extendedprice <= 110000.0 THEN 1 ELSE 0 END) AS d
  FROM lineitem)
SELECT v.value, CASE WHEN s.n > 0
                     THEN round(v.le * 100.0 / s.n, 6) END AS pct
FROM s, (VALUES (1000.0, (SELECT a FROM s)),
                (25000.0, (SELECT b FROM s)),
                (60000.0, (SELECT c FROM s)),
                (110000.0, (SELECT d FROM s))) v(value, le)
"""


def q_rare_terms(spark, sf):
    """Rare-terms aggregation (NEW r15, serving/query.rare_terms — the
    ES rare_terms bucket, the long-tail inverse of the terms facet):
    the rarest analyzed terms (the synthetic vocabulary is dense, so
    the ceiling sits at 385 docs — the semantics are pinned by the
    unit test's genuinely-rare fixture), (cnt asc, term asc), top 40.
    One explode + one partial-aggregatable groupBy + a distributed
    TakeOrdered."""
    return SQ.rare_terms(
        _t(spark, sf, "documents"), "text", max_doc_count=385, top_n=40
    )


SQL_RARE_TERMS = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents)
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM toks GROUP BY term HAVING count(*) <= 385
ORDER BY cnt ASC, term ASC LIMIT 40
"""


def q_composite_page(spark, sf):
    """Composite aggregation with after-key pagination (NEW r15,
    serving/query.composite_after — the ES composite bucket): the
    (source, lang) bucket page AFTER ('src12', 'en'), size 8, in key
    order — the scale-safe bucket-space enumeration (each page is an
    independent groupBy + tuple-greater cut + TakeOrdered, never a
    full facet rank)."""
    return SQ.composite_after(
        _t(spark, sf, "documents"),
        ["source", "lang"],
        size=8,
        after={"source": "src12", "lang": "en"},
    )


SQL_COMPOSITE_PAGE = """
SELECT source, lang, CAST(count(*) AS BIGINT) AS doc_count
FROM documents
WHERE source IS NOT NULL AND lang IS NOT NULL
  AND (source > 'src12' OR (source = 'src12' AND lang > 'en'))
GROUP BY source, lang
ORDER BY source ASC, lang ASC LIMIT 8
"""


def q_histogram_pipeline(spark, sf):
    """Pipeline aggs over the dense date histogram (NEW r15,
    serving/query.date_histogram_pipeline — ES cumulative_sum +
    derivative + moving_avg in one readout): daily purchase counts
    with running total, day-over-day delta (first bucket NULL), and
    the trailing 3-day mean, over the GAP-FREE grid (silent days
    contribute 0). Windows order the interval-bounded grid — a plot
    axis, never the corpus (the survival_km curve rule)."""
    ev = _events_ts(spark, sf).where(F.col("event_type") == "purchase")
    return SQ.date_histogram_pipeline(ev, "ts", "day", window=3).select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "cnt",
        "cum",
        "deriv",
        "mov_avg",
    )


SQL_HISTOGRAM_PIPELINE = """
WITH b AS (
  SELECT date_trunc('day', ts) AS bucket, count(*) AS cnt
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
  GROUP BY 1),
g AS (SELECT unnest(generate_series(min(bucket), max(bucket),
                                    INTERVAL 1 DAY)) AS bucket FROM b),
grid AS (
  SELECT g.bucket, CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
  FROM g LEFT JOIN b USING (bucket))
SELECT strftime(bucket, '%Y-%m-%d') AS day, cnt,
       CAST(sum(cnt) OVER w_all AS BIGINT) AS cum,
       CAST(cnt - lag(cnt) OVER (ORDER BY bucket) AS BIGINT) AS deriv,
       round(avg(cnt) OVER w_mov, 6) AS mov_avg
FROM grid
WINDOW w_all AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING),
       w_mov AS (ORDER BY bucket ROWS 2 PRECEDING)
"""


def q_indexed_prefix(spark, sf):
    """PrefixQuery from the index (NEW r15, text_index.
    search_prefix_indexed): dictionary RANGE expansion
    (TooManyClauses-capped) then one pruned posting read. Oracle
    replays the scan path (token startswith), so the dictionary and
    scan algorithms cross-validate; n_matched counts distinct
    matching terms per doc."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.search_prefix_indexed(spark, idx, "s", id_col="doc_id")


SQL_INDEXED_PREFIX = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
  FROM documents)
SELECT doc_id, CAST(count(*) AS INT) AS n_matched
FROM toks WHERE term LIKE 's%'
GROUP BY doc_id
"""


def q_maxsim_topk(spark, sf):
    """Late-interaction / MaxSim retrieval (NEW r15, operators/
    similarity.late_interaction_topk — ColBERT, Khattab & Zaharia
    2020): documents carry one embedding per token (synthesized here
    by folding the embeddings table into 50 multi-vector docs), the
    3-token query broadcasts, and score = sum over query tokens of
    the max per-token cosine (6dp before max — the oracle replays the
    order). Map-side expansion + two partial-aggregatable aggs + a
    TakeOrdered; raw token vectors never shuffle."""
    from platypus_ingestion_plugins_spark.operators.similarity import (
        late_interaction_topk,
    )

    emb = _t(spark, sf, "embeddings")
    dt = emb.select(
        (F.col("vec_id") % F.lit(50)).alias("doc_id"), "embedding"
    )
    qt = emb.where(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("qpos"), "embedding"
    )
    return late_interaction_topk(dt, qt, k=20, dim=64)


SQL_MAXSIM_TOPK = """
WITH d AS (
  SELECT vec_id % 50 AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id AS qp, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)),
c AS (
  SELECT doc_id, qp, max(round(list_cosine_similarity(v, qv), 6)) AS best
  FROM d, q GROUP BY doc_id, qp)
SELECT doc_id, round(sum(best), 6) AS maxsim
FROM c GROUP BY doc_id
ORDER BY maxsim DESC, doc_id LIMIT 20
"""


def q_did_you_mean(spark, sf):
    """Phrase-level "did you mean" (NEW r15, text_index.did_you_mean
    — the ES phrase suggester): each analyzed query term corrected to
    the dictionary's (edit distance asc, doc_freq desc, term asc)
    winner; in-vocabulary terms pass through at distance 0, an
    unfixable token suggests NULL. One dictionary scan, broadcast
    query frame, position-partitioned bounded window."""
    from platypus_ingestion_plugins_spark.serving import text_index as TI

    idx = _term_index_for(spark, sf, positions=False)
    return TI.did_you_mean(spark, idx, "scna tabel join filtr zzzzzzzzzz")


SQL_DID_YOU_MEAN = """
WITH dic AS (
  SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM (
    SELECT DISTINCT doc_id,
           unnest(list_distinct(list_filter(
               string_split_regex(lower(text), '\\W+'), x -> x <> ''))) AS term
    FROM documents)
  GROUP BY term),
qf AS (SELECT * FROM (VALUES
    (0, 'scna'), (1, 'tabel'), (2, 'join'), (3, 'filtr'),
    (4, 'zzzzzzzzzz')) t(pos, qterm)),
cand AS (
  SELECT qf.pos, qf.qterm, dic.term, dic.doc_freq,
         CAST(levenshtein(dic.term, qf.qterm) AS INT) AS dist
  FROM dic, qf
  WHERE levenshtein(dic.term, qf.qterm) <= 2),
best AS (
  SELECT pos, term AS suggestion, dist, doc_freq,
         row_number() OVER (PARTITION BY pos
                            ORDER BY dist ASC, doc_freq DESC, term ASC) rn
  FROM cand)
SELECT CAST(qf.pos AS INT) AS pos, qf.qterm AS term,
       b.suggestion, b.dist, b.doc_freq
FROM qf LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (pos)
"""


def q_diff_in_diff(spark, sf):
    """Difference-in-differences (NEW r15, operators/analytics.
    diff_in_diff — the quasi-experimental twin of ab_test): purchase
    value for even-user-id "treated" units before/after Jan 15, and
    the DiD estimate under parallel trends. ONE conditional
    aggregation pass, constant-size output."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        diff_in_diff,
    )

    ev = _events_ts(spark, sf).where(F.col("event_type") == "purchase")
    return diff_in_diff(
        ev, "ts", "value",
        F.col("user_id") % 2 == 0,
        "2024-01-15 00:00:00",
    )


SQL_DIFF_IN_DIFF = """
WITH base AS (
  SELECT value AS v, (user_id % 2 = 0) AS t,
         (ts >= TIMESTAMP '2024-01-15 00:00:00') AS post
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL AND ts IS NOT NULL),
agg AS (
  SELECT
    CAST(sum(CASE WHEN t AND NOT post THEN 1 ELSE 0 END) AS BIGINT) n_treat_pre,
    avg(CASE WHEN t AND NOT post THEN v END) m_tp,
    CAST(sum(CASE WHEN t AND post THEN 1 ELSE 0 END) AS BIGINT) n_treat_post,
    avg(CASE WHEN t AND post THEN v END) m_tq,
    CAST(sum(CASE WHEN NOT t AND NOT post THEN 1 ELSE 0 END) AS BIGINT) n_control_pre,
    avg(CASE WHEN NOT t AND NOT post THEN v END) m_cp,
    CAST(sum(CASE WHEN NOT t AND post THEN 1 ELSE 0 END) AS BIGINT) n_control_post,
    avg(CASE WHEN NOT t AND post THEN v END) m_cq
  FROM base)
SELECT n_treat_pre, round(m_tp, 6) AS treat_pre,
       n_treat_post, round(m_tq, 6) AS treat_post,
       n_control_pre, round(m_cp, 6) AS control_pre,
       n_control_post, round(m_cq, 6) AS control_post,
       round((m_tq - m_tp) - (m_cq - m_cp), 6) AS did
FROM agg
"""


def q_funnel_latency(spark, sf):
    """Per-hop funnel latency distribution (NEW r15, operators/
    analytics.funnel_latency): for view->click and click->purchase,
    completed-user count and mean / exact p50 / exact p90 hop
    seconds over the greedy completion times (the cascade's bounded
    rows, one reused hash(u) partitioning, then ONE aggregation).
    percentile == quantile_cont (the percentiles precedent);
    timestamps truncate to epoch seconds BEFORE the chain on both
    engines."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        funnel_latency,
    )

    return funnel_latency(
        _events_ts(spark, sf),
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
    )


SQL_FUNNEL_LATENCY = """
WITH ev AS (
  SELECT user_id AS u, event_type AS et,
         CAST(floor(epoch(ts)) AS BIGINT) AS e
  FROM events WHERE ts IS NOT NULL
    AND event_type IN ('view', 'click', 'purchase')),
u1 AS (SELECT u, min(e) AS t0 FROM ev WHERE et = 'view' GROUP BY u),
u2 AS (
  SELECT ev.u, min(ev.e) AS t1 FROM ev JOIN u1 USING (u)
  WHERE ev.et = 'click' AND ev.e >= u1.t0 GROUP BY ev.u),
u3 AS (
  SELECT ev.u, min(ev.e) AS t2 FROM ev JOIN u2 USING (u)
  WHERE ev.et = 'purchase' AND ev.e >= u2.t1 GROUP BY ev.u),
times AS (
  SELECT u1.u, u1.t0, u2.t1, u3.t2
  FROM u1 LEFT JOIN u2 USING (u) LEFT JOIN u3 USING (u)),
agg AS (
  SELECT
    CAST(count(t1) AS BIGINT) n1, round(avg(t1 - t0), 6) a1,
    round(quantile_cont(t1 - t0, 0.5), 6) m1,
    round(quantile_cont(t1 - t0, 0.9), 6) q1,
    CAST(count(t2) AS BIGINT) n2, round(avg(t2 - t1), 6) a2,
    round(quantile_cont(t2 - t1, 0.5), 6) m2,
    round(quantile_cont(t2 - t1, 0.9), 6) q2
  FROM times)
SELECT 'view->click' AS hop, CAST(1 AS INT) AS hop_idx,
       n1 AS n_completed, a1 AS avg_s, m1 AS p50_s, q1 AS p90_s FROM agg
UNION ALL
SELECT 'click->purchase', CAST(2 AS INT), n2, a2, m2, q2 FROM agg
"""


def q_eval_report(spark, sf):
    """Per-class classification report (NEW r15, functions/evals.
    classification_report — the sklearn shape, distributed): gold =
    the documents' lang, predictions = a deterministically corrupted
    copy (every 7th doc mispredicted 'en'), so precision/recall/F1
    have real confusion to measure. Two class-sized aggregations
    full-outer-joined — the corpus never shuffles wider than (label,
    count)."""
    from platypus_ingestion_plugins_spark.functions.evals import (
        classification_report,
    )

    d = _t(spark, sf, "documents").select(
        F.col("lang").alias("gold"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("en")).otherwise(
            F.col("lang")
        ).alias("pred"),
    )
    return classification_report(d, "gold", "pred")


SQL_EVAL_REPORT = """
WITH base AS (
  SELECT lang AS g,
         CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END AS p
  FROM documents WHERE lang IS NOT NULL),
per_gold AS (
  SELECT g AS label, CAST(count(*) AS BIGINT) AS support,
         CAST(sum(CASE WHEN p = g THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM base GROUP BY g),
per_pred AS (
  SELECT p AS label, CAST(count(*) AS BIGINT) AS pn
  FROM base WHERE p IS NOT NULL GROUP BY p),
j AS (
  SELECT coalesce(pg.label, pp.label) AS label,
         coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
         coalesce(pn, 0) AS pn
  FROM per_gold pg FULL OUTER JOIN per_pred pp USING (label))
SELECT label, support, tp,
       round(CASE WHEN pn > 0 THEN tp * 1.0 / pn ELSE 0.0 END, 6) AS precision,
       round(CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN (CASE WHEN pn > 0 THEN tp * 1.0 / pn ELSE 0.0 END)
                     + (CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END) > 0
             THEN 2.0 * (CASE WHEN pn > 0 THEN tp * 1.0 / pn ELSE 0.0 END)
                      * (CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END)
                  / ((CASE WHEN pn > 0 THEN tp * 1.0 / pn ELSE 0.0 END)
                     + (CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END))
             ELSE 0.0 END, 6) AS f1
FROM j
"""


def q_calibration(spark, sf):
    """Reliability-diagram bins (NEW r15, functions/evals.
    calibration_report — ECE inputs, Naeini 2015): a deterministic
    length-based score against a doc_id-parity label; per bin the
    count, mean confidence, empirical positive rate and |gap|. One
    partial-aggregatable groupBy over a codegen bin id."""
    from platypus_ingestion_plugins_spark.functions.evals import (
        calibration_report,
    )

    # NULL n_chars must drop BEFORE least(): Spark's least IGNORES
    # NULLs (the geo haversine clamp lesson), so a NULL row would
    # otherwise score 1.0 here while the oracle's IS NOT NULL drops it
    d = _t(spark, sf, "documents").where(
        F.col("n_chars").isNotNull()
    ).select(
        F.least(F.col("n_chars") / F.lit(2000.0), F.lit(1.0)).alias("score"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"),
    )
    return calibration_report(d, "score", "y", n_bins=10)


SQL_CALIBRATION = """
WITH base AS (
  SELECT least(n_chars / 2000.0, 1.0) AS s,
         CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM documents
  WHERE n_chars IS NOT NULL)
SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(s), 6) AS avg_score,
       round(avg(y), 6) AS pos_rate,
       round(abs(avg(s) - avg(y)), 6) AS abs_gap
FROM base GROUP BY 1
"""


def q_knn_label(spark, sf):
    """kNN label propagation (NEW r15, functions/evals.knn_classify —
    the auto-labeling primitive): vectors with id < 100 carry a
    derived class, the rest take the majority label of their 5
    nearest labeled neighbors (cosine 6dp, (votes, summed-cos, label)
    tie order). Labeled side broadcast; per-query top-k via the
    salted two-phase merge — no per-query hot reducer."""
    from platypus_ingestion_plugins_spark.functions.evals import knn_classify

    emb = _t(spark, sf, "embeddings")
    labeled = emb.where(F.col("vec_id") < 100).select(
        "vec_id", "embedding",
        F.concat(F.lit("c"), (F.col("vec_id") % 4).cast("string")).alias(
            "label"
        ),
    )
    unlabeled = emb.where(F.col("vec_id") >= 100).select(
        "vec_id", "embedding"
    )
    return knn_classify(labeled, unlabeled, k=5, dim=64)


SQL_KNN_LABEL = """
WITH lab AS (
  SELECT vec_id AS lid, embedding::DOUBLE[] AS lv,
         'c' || CAST(vec_id % 4 AS VARCHAR) AS lab
  FROM embeddings WHERE vec_id < 100),
unl AS (
  SELECT vec_id AS uid, embedding::DOUBLE[] AS uv
  FROM embeddings WHERE vec_id >= 100),
scored AS (
  SELECT uid, lid, lab,
         round(list_cosine_similarity(uv, lv), 6) AS cs
  FROM unl, lab),
ranked AS (
  SELECT uid, lid, lab, cs,
         row_number() OVER (PARTITION BY uid ORDER BY cs DESC, lid) AS rn
  FROM scored),
nn AS (SELECT * FROM ranked WHERE rn <= 5),
votes AS (
  SELECT uid, lab, CAST(count(*) AS BIGINT) AS votes, sum(cs) AS w
  FROM nn GROUP BY uid, lab),
best AS (
  SELECT uid, lab, votes,
         row_number() OVER (PARTITION BY uid
                            ORDER BY votes DESC, w DESC, lab ASC) AS rn
  FROM votes),
tot AS (SELECT uid, CAST(sum(votes) AS BIGINT) AS n_neighbors
        FROM votes GROUP BY uid)
SELECT b.uid AS vec_id, b.lab AS label, b.votes, t.n_neighbors
FROM best b JOIN tot t USING (uid) WHERE b.rn = 1
"""


def q_corpus_kl(spark, sf):
    """Corpus-drift KL contributions (NEW r15, functions/evals.
    unigram_kl_divergence): which terms make the German slice differ
    from the English slice — smoothed per-term p_A*ln(p_A/p_B) over
    the union vocabulary, top 25. Two token aggregations + one
    vocab-sized full-outer join + 1-row totals broadcast."""
    from platypus_ingestion_plugins_spark.functions.evals import (
        unigram_kl_divergence,
    )

    d = _t(spark, sf, "documents")
    return unigram_kl_divergence(
        d.where(F.col("lang") == "de"),
        d.where(F.col("lang") == "en"),
        "text",
        top_n=25,
    )


SQL_CORPUS_KL = """
WITH ta AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                x -> x <> '')) AS term
  FROM documents WHERE lang = 'de'),
tb AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                x -> x <> '')) AS term
  FROM documents WHERE lang = 'en'),
ca AS (SELECT term, count(*) AS na FROM ta GROUP BY term),
cb AS (SELECT term, count(*) AS nb FROM tb GROUP BY term),
vocab AS (
  SELECT coalesce(ca.term, cb.term) AS term,
         coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
  FROM ca FULL OUTER JOIN cb USING (term)),
tot AS (SELECT sum(na) AS tta, sum(nb) AS ttb, count(*) AS v FROM vocab)
SELECT term,
       round((na + 0.5) / (tta + 0.5 * v), 6) AS p_a,
       round((nb + 0.5) / (ttb + 0.5 * v), 6) AS p_b,
       round(((na + 0.5) / (tta + 0.5 * v))
             * ln(((na + 0.5) / (tta + 0.5 * v))
                  / ((nb + 0.5) / (ttb + 0.5 * v))), 6) AS contrib
FROM vocab, tot
ORDER BY contrib DESC, term ASC LIMIT 25
"""


def q_synonym_search(spark, sf):
    """Query-time synonym expansion (NEW r15, functions/evals.
    match_synonyms — the ES synonym_graph filter at query time): the
    query 'scan' expands one hop through a registry-sized map and
    matches docs containing any expanded term; one EXISTS+isin
    codegen predicate, no join."""
    from platypus_ingestion_plugins_spark.functions.evals import (
        match_synonyms,
    )

    d = _t(spark, sf, "documents")
    return d.where(
        match_synonyms("text", "scan", {"scan": ["merge", "probe"]})
    ).select("doc_id", "source")


SQL_SYNONYM_SEARCH = """
SELECT doc_id, source FROM documents
WHERE len(list_intersect(
    list_distinct(list_filter(string_split_regex(lower(text), '\\W+'),
                  x -> x <> '')),
    ['scan', 'merge', 'probe'])) > 0
"""


def q_dsl_query(spark, sf):
    """ES query-DSL parser (NEW r15, serving/query.parse_query): the
    JSON bool tree a search client already stores compiles into ONE
    codegen predicate over the module's constructors — term / range /
    match / phrase / prefix / regexp / exists under bool with
    minimum_should_match. The oracle replays the tree as plain SQL,
    so the parser's compilation is value-checked clause by clause."""
    dsl = {
        "bool": {
            "must": [{"range": {"n_chars": {"gte": 200}}}],
            "filter": [{"exists": {"field": "lang"}}],
            "should": [
                {"match_phrase": {"text": "table scan"}},
                {"prefix": {"text": "shuf"}},
                {"regexp": {"text": "eng.*|merge"}},
                {"term": {"lang": "de"}},
            ],
            "must_not": [{"terms": {"source": ["src0", "src7"]}}],
            "minimum_should_match": 2,
        }
    }
    d = _t(spark, sf, "documents")
    return d.filter(SQ.parse_query(dsl)).select("doc_id", "lang", "source")


SQL_DSL_QUERY = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS t
  FROM documents)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN toks USING (doc_id)
WHERE d.n_chars >= 200
  AND d.lang IS NOT NULL
  AND (
    (CASE WHEN contains(' ' || array_to_string(t, ' ') || ' ',
                        ' table scan ') THEN 1 ELSE 0 END)
    + (CASE WHEN len(list_filter(t, x -> x LIKE 'shuf%')) > 0
            THEN 1 ELSE 0 END)
    + (CASE WHEN len(list_filter(t,
            x -> regexp_matches(x, '^(?:eng.*|merge)$'))) > 0
            THEN 1 ELSE 0 END)
    + (CASE WHEN d.lang = 'de' THEN 1 ELSE 0 END)
  ) >= 2
  AND NOT coalesce(d.source IN ('src0', 'src7'), FALSE)
"""


def q_update_by_query(spark, sf):
    """_update_by_query / _delete_by_query lifecycle (NEW r15,
    serving/table.update_by_query/delete_by_query): a scratch serving
    table built from documents takes an update (German docs get a
    boosted n_chars) then a delete (drop one source), both routed
    through the SAME CDC apply path as ingest (last-wins merge,
    commit log); the readback is the oracle's CASE-and-exclude replay
    — the update semantics and the delete's read-your-writes are
    value-checked end to end."""
    import shutil

    from platypus_ingestion_plugins_spark.serving.table import (
        ServingTable,
        delete_by_query,
        update_by_query,
    )

    d = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    work = _stream_scratch("ubq_")
    try:
        tbl = ServingTable(spark, os.path.join(work, "tbl"), key="doc_id")
        tbl.overwrite(d)
        update_by_query(
            tbl,
            F.col("lang") == "de",
            {"n_chars": F.col("n_chars") + F.lit(100000)},
        )
        delete_by_query(tbl, F.col("source") == "src3")
        out = tbl.query()
        _keep_until_exit(work, keep=os.path.join(work, "tbl"))
        return out
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


SQL_UPDATE_BY_QUERY = """
SELECT doc_id, lang, source,
       CAST(CASE WHEN lang = 'de' THEN n_chars + 100000
                 ELSE n_chars END AS BIGINT) AS n_chars
FROM documents WHERE NOT coalesce(source = 'src3', FALSE)
"""


def q_soft_dedup(spark, sf):
    """Soft deduplication (NEW r15, operators/dedup.soft_dedup_weights
    — SoftDeDup, He et al. 2024): every row kept, weighted 1/copies of
    its exact content, so distinct content carries equal expected
    sampling mass without the hard drop. One content-hash count + one
    join back (the exact_dedup shape minus the drop); composes with
    weighted_sample_wor/temperature_mix downstream."""
    from platypus_ingestion_plugins_spark.operators.dedup import (
        soft_dedup_weights,
    )

    d = _t(spark, sf, "documents")
    return soft_dedup_weights(d, "text", "doc_id").select(
        "doc_id", "n_copies", "weight"
    )


SQL_SOFT_DEDUP = """
WITH c AS (
  SELECT text, CAST(count(*) AS BIGINT) AS n_copies
  FROM documents GROUP BY text)
SELECT d.doc_id, c.n_copies, round(1.0 / c.n_copies, 6) AS weight
FROM documents d JOIN c USING (text)
"""


def q_json_validity(spark, sf):
    """JSON-parseability profile (NEW r15, functions/text.
    json_validity): per source, how many synthesized payloads parse —
    the silent-scraper-breakage gate for structured-text corpora.
    Payloads are deterministically derived (valid object / prose /
    truncated object by doc_id mod 3) so both engines judge the same
    strings; try_parse_json is JVM codegen, json_valid the DuckDB
    twin; one partial-aggregatable groupBy."""
    from platypus_ingestion_plugins_spark.functions.text import (
        json_validity,
    )

    d = _t(spark, sf, "documents").select(
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('{"id": '), F.col("doc_id").cast("string"),
                     F.lit(', "lang": "'), F.col("lang"), F.lit('"}')),
        ).when(F.col("doc_id") % 3 == 1, F.col("text")).otherwise(
            F.concat(F.lit('{"id": '), F.col("doc_id").cast("string"))
        ).alias("payload"),
    )
    return json_validity(d, "payload", "source")


SQL_JSON_VALIDITY = """
WITH p AS (
  SELECT source,
         CASE WHEN doc_id % 3 = 0
              THEN '{"id": ' || CAST(doc_id AS VARCHAR)
                   || ', "lang": "' || lang || '"}'
              WHEN doc_id % 3 = 1 THEN text
              ELSE '{"id": ' || CAST(doc_id AS VARCHAR) END AS payload
  FROM documents)
SELECT source AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN payload IS NOT NULL AND json_valid(payload)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       round(sum(CASE WHEN payload IS NOT NULL AND json_valid(payload)
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS valid_rate
FROM p WHERE source IS NOT NULL GROUP BY source
"""


def q_aggs_dsl(spark, sf):
    """ES aggregations-DSL executor (NEW r15, serving/aggs.run_aggs):
    a stored Kibana-style request body — query + terms(source, top 4)
    → terms(lang, top 2) → stats + value_count metrics — runs
    unchanged as ONE groupBy over both keys with window-sum cuts over
    the aggregated bucket grid; the oracle replays the rectangle with
    GROUP BY + dense_rank windows, so the per-parent top-N semantics
    (ranked by the parent's TOTAL doc_count) are value-checked."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    d = _t(spark, sf, "documents")
    return run_aggs(d, {
        "query": {"range": {"n_chars": {"gte": 100}}},
        "aggs": {
            "by_source": {
                "terms": {"field": "source", "size": 4},
                "aggs": {
                    "by_lang": {
                        "terms": {"field": "lang", "size": 2},
                        "aggs": {
                            "len": {"stats": {"field": "n_chars"}},
                            "n_docs": {"value_count": {"field": "doc_id"}},
                        },
                    }
                },
            }
        },
    })


SQL_AGGS_DSL = """
WITH f AS (
  SELECT * FROM documents
  WHERE n_chars >= 100 AND source IS NOT NULL AND lang IS NOT NULL),
g AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS doc_count,
         CAST(count(n_chars) AS BIGINT) AS len_count,
         min(n_chars) AS len_min, max(n_chars) AS len_max,
         avg(n_chars) AS len_avg,
         CAST(sum(n_chars) AS BIGINT) AS len_sum,
         CAST(count(doc_id) AS BIGINT) AS n_docs
  FROM f GROUP BY 1, 2),
c1 AS (
  -- the parent's TRUE doc_count: its level snapshot (source present,
  -- query applied), INDEPENDENT of the child terms' NULL-lang drop
  SELECT source, count(*) AS src_cnt FROM documents
  WHERE n_chars >= 100 AND source IS NOT NULL GROUP BY source),
r1 AS (
  SELECT g.*, dense_rank() OVER (
    ORDER BY c1.src_cnt DESC, g.source ASC
  ) AS rk1 FROM g JOIN c1 USING (source)),
r2 AS (
  SELECT *, dense_rank() OVER (
    PARTITION BY source ORDER BY doc_count DESC, lang ASC
  ) AS rk2 FROM r1 WHERE rk1 <= 4)
SELECT source AS by_source, lang AS by_lang, doc_count,
       len_count, len_min, len_max, len_avg, len_sum, n_docs
FROM r2 WHERE rk2 <= 2
"""


def q_aggs_dsl_range(spark, sf):
    """ES aggs-DSL range + filters coverage (NEW r15, serving/aggs.
    run_aggs): value bands (half-open [from, to), ES key format) with
    an avg metric under a filters-parsed query — the multi-membership
    explode leaves of the executor; the oracle replays the bands as a
    CASE over non-overlapping ranges."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    e = _events_ts(spark, sf)
    return run_aggs(e, {
        "query": {"bool": {"must_not": [
            {"term": {"event_type": "error"}}]}},
        "aggs": {
            "bands": {
                "range": {"field": "value", "ranges": [
                    {"to": 10}, {"from": 10, "to": 60}, {"from": 60},
                ]},
                "aggs": {"v_avg": {"avg": {"field": "value"}}},
            }
        },
    })


SQL_AGGS_DSL_RANGE = """
WITH f AS (
  SELECT CASE WHEN value < 10 THEN '*-10.0'
              WHEN value >= 10 AND value < 60 THEN '10.0-60.0'
              WHEN value >= 60 THEN '60.0-*' END AS bands,
         value
  FROM events
  WHERE NOT coalesce(event_type = 'error', FALSE) AND value IS NOT NULL)
SELECT bands, CAST(count(*) AS BIGINT) AS doc_count, avg(value) AS v_avg
FROM f WHERE bands IS NOT NULL GROUP BY bands
"""


def q_simple_query(spark, sf):
    """simple_query_string (NEW r15, serving/query.
    simple_query_string): the end-user search-box syntax — phrase,
    trailing-* prefix, a fuzzy suffix degrading to exact, and a
    prohibited term, under default OR (at least one optional clause
    matches). The oracle replays each clause over the tokenized field
    with the dsl_query conventions."""
    d = _t(spark, sf, "documents")
    return d.filter(
        SQ.simple_query_string("text", '"query plan" merg* fast~2 -shuffle')
    ).select("doc_id", "lang", "source")


SQL_SIMPLE_QUERY = """
WITH toks AS (
  SELECT doc_id, lang, source,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS t
  FROM documents)
SELECT doc_id, lang, source
FROM toks
WHERE (contains(' ' || array_to_string(t, ' ') || ' ', ' query plan ')
       OR len(list_filter(t, x -> x LIKE 'merg%')) > 0
       OR list_contains(t, 'fast'))
  AND NOT list_contains(t, 'shuffle')
"""


def q_triangle_count(spark, sf):
    """Per-node triangle counts (NEW r15, operators/graph.
    triangle_count) over a deterministic hash-derived user graph
    (3 pseudo-random neighbors per user via Knuth multiplicative
    hashing mod the id space — the order-key-derived-input rule, so
    both engines build the SAME graph): degree-ordered wedge join
    (Suri & Vassilvitskii 2011), every pair stage bounded O(m^1.5);
    the oracle enumerates a<b<c triangles with plain self-joins."""
    from platypus_ingestion_plugins_spark.operators.graph import (
        triangle_count,
    )

    return triangle_count(_hash_user_edges(spark, sf), "u", "v")


SQL_TRIANGLE_COUNT = """
WITH users AS (
  SELECT DISTINCT user_id AS u FROM events WHERE user_id IS NOT NULL),
m AS (SELECT max(u) + 1 AS m FROM users),
raw AS (
  SELECT u, ((u % 1000003) * 2654435761 + k * 40503) % m.m AS v
  FROM users, m, (VALUES (1), (2), (3)) AS ks(k)),
e AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM raw WHERE u <> v),
nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
corners AS (
  SELECT x AS n FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris),
c AS (SELECT n, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY n)
SELECT nodes.n AS node, coalesce(c.triangles, 0) AS triangles
FROM nodes LEFT JOIN c ON nodes.n = c.n
"""


def q_fim_split(spark, sf):
    """Fill-in-the-middle transform (NEW r15, functions/text.
    fim_transform): a deterministic half of the docs re-render as
    <pre>prefix<suf>suffix<mid>middle at key-derived cut points
    (Bavarian et al. 2022's PSM mode), the rest pass through; the
    oracle replays the multiplicative-hash pick and the substring
    tiling character for character."""
    from platypus_ingestion_plugins_spark.functions.text import (
        fim_transform,
    )

    d = _t(spark, sf, "documents")
    return fim_transform(d, rate=0.5).select("doc_id", "fim", "fim_text")


SQL_FIM_SPLIT = """
WITH b AS (
  SELECT doc_id, text, length(text) AS n, doc_id % 1000003 AS kh
  FROM documents),
c AS (
  SELECT *,
         ((kh * 2654435761) % 1000000 < 500000
          AND text IS NOT NULL) AS picked,
         least((kh * 40503 + 12345) % (n + 1),
               (kh * 69069 + 54321) % (n + 1)) AS lo,
         greatest((kh * 40503 + 12345) % (n + 1),
                  (kh * 69069 + 54321) % (n + 1)) AS hi
  FROM b)
SELECT doc_id, coalesce(picked, FALSE) AS fim,
       CASE WHEN coalesce(picked, FALSE)
            THEN '<|fim_prefix|>' || substr(text, 1, lo)
                 || '<|fim_suffix|>' || substr(text, hi + 1, n - hi)
                 || '<|fim_middle|>' || substr(text, lo + 1, hi - lo)
            ELSE text END AS fim_text
FROM c
"""


def _hash_user_edges(spark, sf):
    """The deterministic hash-derived user graph shared by
    `triangle_count` and `lpa_communities`: 3 pseudo-random neighbors
    per distinct user via Knuth multiplicative hashing mod the id
    space (pure arithmetic, so DuckDB rebuilds the SAME graph)."""
    users = (
        _t(spark, sf, "events")
        .where(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    m = users.agg((F.max("u") + F.lit(1)).alias("m"))
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    return (
        users.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(ks))
        .select(
            "u",
            F.pmod(
                F.pmod(F.col("u"), F.lit(1000003)) * F.lit(2654435761)
                + F.col("k") * F.lit(40503),
                F.col("m"),
            ).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
    )


def q_lpa_communities(spark, sf):
    """Label-propagation communities (NEW r15, operators/graph.
    label_propagation): 4 synchronous rounds over the hash-derived
    user graph, each node re-labeled with its neighbors' most
    frequent label, ties to the smallest — fully deterministic, so
    the oracle unrolls the same rounds as SQL CTEs (the pagerank
    rule). Each round = one co-partitioned join + one (node, label)
    count + one degree-bounded argmax window."""
    from platypus_ingestion_plugins_spark.operators.graph import (
        label_propagation,
    )

    return label_propagation(_hash_user_edges(spark, sf), "u", "v", rounds=4)


def _lpa_oracle_sql(rounds: int = 4) -> str:
    head = """
WITH users AS (
  SELECT DISTINCT user_id AS u FROM events WHERE user_id IS NOT NULL),
m AS (SELECT max(u) + 1 AS m FROM users),
raw AS (
  SELECT u, ((u % 1000003) * 2654435761 + k * 40503) % m.m AS v
  FROM users, m, (VALUES (1), (2), (3)) AS ks(k)),
pairs2 AS (
  SELECT DISTINCT s, t FROM (
    SELECT u AS s, v AS t FROM raw WHERE u <> v
    UNION ALL
    SELECT v, u FROM raw WHERE u <> v)),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM pairs2)"""
    body = []
    for i in range(rounds):
        body.append(f""",
v{i} AS (
  SELECT b.s AS node, l.label, count(*) AS c
  FROM pairs2 b JOIN l{i} l ON l.node = b.t
  GROUP BY 1, 2),
l{i + 1} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM v{i}) WHERE rn = 1)""")
    return (
        head + "".join(body)
        + f"\nSELECT node, label FROM l{rounds}"
    )


def q_span_corrupt(spark, sf):
    """T5 span corruption (NEW r15, functions/text.span_corrupt):
    3-token blocks, a deterministic 1-in-5 masked into incrementing
    sentinels with the masked spans emitted as the target — the
    (inputs, targets) pair a denoising objective trains on, rendered
    in ONE linear F.aggregate codegen scan per row; the oracle
    recomputes the prefix-count sentinels with an unnest + window
    replay."""
    from platypus_ingestion_plugins_spark.functions.text import (
        span_corrupt,
    )

    d = _t(spark, sf, "documents")
    return span_corrupt(d).select(
        "doc_id", "corrupt_input", "corrupt_target"
    )


SQL_SPAN_CORRUPT = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         doc_id % 1000003 AS kh
  FROM documents WHERE text IS NOT NULL),
nb AS (
  SELECT *, CAST(ceil(len(toks) / 3.0) AS INT) AS nblocks FROM t
  WHERE len(toks) > 0),
b AS (
  SELECT doc_id, kh, toks, unnest(range(nblocks)) AS blk FROM nb),
p AS (
  SELECT doc_id, blk,
         ((kh + blk) * 2654435761) % 5 = 0 AS m,
         array_to_string(list_slice(toks, blk * 3 + 1, blk * 3 + 3),
                         ' ') AS btxt
  FROM b),
q AS (
  SELECT *,
         coalesce(sum(CASE WHEN m THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY blk
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS kprev
  FROM p),
r AS (
  SELECT doc_id,
         string_agg(CASE WHEN m
                         THEN '<extra_id_' || CAST(kprev AS VARCHAR) || '>'
                         ELSE btxt END, ' ' ORDER BY blk) AS inp,
         string_agg(CASE WHEN m
                         THEN '<extra_id_' || CAST(kprev AS VARCHAR) || '> '
                              || btxt END, ' ' ORDER BY blk) AS tgt,
         bool_or(m) AS any_m
  FROM q GROUP BY doc_id)
SELECT d.doc_id, r.inp AS corrupt_input,
       CASE WHEN r.any_m THEN r.tgt END AS corrupt_target
FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
"""


def q_psi_drift(spark, sf):
    """PSI drift report (NEW r15, functions/evals.psi_report): the
    'click' slice's exact decile cut points (quantile_cont
    convention) bin both slices; per-bin smoothed proportions and PSI
    contributions — the numeric pre-retraining drift gate next to
    corpus_kl's vocabulary drift. One 1-row percentile aggregate
    broadcast onto the scan, one groupBy(bin), window totals over the
    10-row bin grid."""
    from platypus_ingestion_plugins_spark.functions.evals import psi_report

    e = _t(spark, sf, "events")
    return psi_report(e, "value", "event_type", "click", "view", bins=10)


SQL_PSI_DRIFT = """
WITH sl AS (
  SELECT event_type AS s, value AS x FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
cuts AS (
  SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                           0.6, 0.7, 0.8, 0.9]) AS c
  FROM sl WHERE s = 'click'),
binned AS (
  SELECT s, len(list_filter(c, e -> e < x)) AS bin FROM sl, cuts),
counts AS (
  SELECT bin,
         CAST(sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(sum(CASE WHEN s = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cmp
  FROM binned GROUP BY bin)
SELECT bin, n_ref, n_cmp,
       round((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0), 6) AS ref_pct,
       round((n_cmp + 0.5) / (sum(n_cmp) OVER () + 5.0), 6) AS cmp_pct,
       round(((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0)
              - (n_cmp + 0.5) / (sum(n_cmp) OVER () + 5.0))
             * ln(((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0))
                  / ((n_cmp + 0.5) / (sum(n_cmp) OVER () + 5.0))), 6)
         AS psi_contrib
FROM counts
"""


def q_ewma_anomalies(spark, sf):
    """EWMA control chart (NEW r15, operators/analytics.
    ewma_anomalies): hourly counts per event type against a
    geometrically-weighted trailing baseline (alpha 0.3, 24h window)
    flagging ratio spikes AND outages; the curve-sized grid
    self-joins to its trailing hours, weights are codegen pow. The
    oracle replays the join band and weights verbatim."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        ewma_anomalies,
    )

    e = _events_ts(spark, sf)
    return ewma_anomalies(e, "ts", "event_type")


SQL_EWMA_ANOMALIES = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
j AS (
  SELECT c.event_type, c.hour, c.cnt, p.cnt AS pcnt,
         (epoch(c.hour) - epoch(p.hour)) / 3600 AS age
  FROM h c LEFT JOIN h p
    ON p.event_type = c.event_type AND p.hour < c.hour
   AND p.hour >= c.hour - INTERVAL 24 HOUR),
s AS (
  SELECT event_type, hour, cnt,
         sum(CASE WHEN pcnt IS NOT NULL
                  THEN 0.3 * power(0.7, age - 1) * pcnt END) AS num,
         sum(CASE WHEN pcnt IS NOT NULL
                  THEN 0.3 * power(0.7, age - 1) END) AS den,
         count(pcnt) AS hist
  FROM j GROUP BY 1, 2, 3)
SELECT event_type, hour, cnt,
       round(num / den, 6) AS ewma,
       round(cnt / (num / den), 6) AS ratio,
       (hist >= 6 AND (cnt / (num / den) > 2.0
                       OR cnt / (num / den) < 0.5)) AS anomaly
FROM s
"""


def q_aggs_dsl_filter(spark, sf):
    """ES single-bucket `filter` agg (NEW r15, serving/aggs.run_aggs):
    the scope-narrowing bucket every saved dashboard uses (filter →
    date_histogram → metric); the constant agg name is the bucket key
    the ES response shows. Oracle replays the narrowed chain."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    e = _events_ts(spark, sf)
    return run_aggs(e, {
        "aggs": {
            "purchases": {
                "filter": {"term": {"event_type": "purchase"}},
                "aggs": {
                    "per_day": {
                        "date_histogram": {"field": "ts",
                                           "calendar_interval": "day",
                                           "min_doc_count": 1},
                        "aggs": {"rev": {"sum": {"field": "value"}}},
                    }
                },
            }
        },
    })


SQL_AGGS_DSL_FILTER = """
SELECT 'purchases' AS purchases, date_trunc('day', ts) AS per_day,
       CAST(count(*) AS BIGINT) AS doc_count, sum(value) AS rev
FROM events
WHERE event_type = 'purchase' AND ts IS NOT NULL
GROUP BY 2
"""


def q_kcore_graph(spark, sf):
    """k-core peeling (NEW r15, operators/graph.k_core): 6 fixed
    peels at k=4 over the hash-derived user graph — the densest-region
    trim before community/centrality reads; each peel one degree
    groupBy + two semi-joins. The oracle unrolls the same peels as
    SQL CTEs (idempotent once converged, the pagerank rule)."""
    from platypus_ingestion_plugins_spark.operators.graph import k_core

    return k_core(_hash_user_edges(spark, sf), "u", "v", k=4, rounds=6)


def _kcore_oracle_sql(k: int = 4, rounds: int = 6) -> str:
    head = """
WITH users AS (
  SELECT DISTINCT user_id AS u FROM events WHERE user_id IS NOT NULL),
m AS (SELECT max(u) + 1 AS m FROM users),
raw AS (
  SELECT u, ((u % 1000003) * 2654435761 + k * 40503) % m.m AS v
  FROM users, m, (VALUES (1), (2), (3)) AS ks(k)),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
  FROM raw WHERE u <> v)"""
    body = []
    for i in range(rounds):
        body.append(f""",
d{i} AS MATERIALIZED (
  SELECT n, count(*) AS d FROM (
    SELECT u AS n FROM e{i} UNION ALL SELECT v FROM e{i})
  GROUP BY n),
s{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {k}),
e{i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i} e
  JOIN s{i} a ON e.u = a.n JOIN s{i} b ON e.v = b.n)""")
    return (
        head + "".join(body) + f"""
SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT u AS n FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
GROUP BY n"""
    )


def q_readability(spark, sf):
    """Flesch reading ease (NEW r15, functions/text.
    readability_stats): words / sentence runs / per-word vowel-group
    syllables and the 206.835 formula, all higher-order-function
    codegen; the oracle replays the token and vowel-group counts with
    DuckDB list functions."""
    from platypus_ingestion_plugins_spark.functions.text import (
        readability_stats,
    )

    d = _t(spark, sf, "documents")
    st = readability_stats("text")
    return d.select(
        "doc_id",
        st["n_words"].cast("long").alias("n_words"),
        st["n_sentences"].cast("long").alias("n_sentences"),
        st["n_syllables"].cast("long").alias("n_syllables"),
        st["flesch"],
    )


SQL_READABILITY = """
WITH b AS (
  SELECT doc_id, lower(coalesce(text, '')) AS c FROM documents),
w AS (
  SELECT doc_id,
         list_filter(string_split_regex(c, '\\s+'), x -> x <> '') AS words,
         greatest(len(list_filter(string_split_regex(c, '[.!?]+'),
                                  s -> trim(s) <> '')), 1) AS n_sent
  FROM b),
s AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(n_sent AS BIGINT) AS n_sentences,
         CAST(coalesce(list_sum(list_transform(words,
           x -> greatest(len(list_filter(
                  string_split_regex(x, '[^aeiouy]+'), g -> g <> '')),
                1))), 0) AS BIGINT) AS n_syllables
  FROM w)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words >= 1
            THEN round(206.835 - 1.015 * n_words / n_sentences
                       - 84.6 * n_syllables / n_words, 6) END AS flesch
FROM s
"""


def q_aggs_multi_terms(spark, sf):
    """ES multi_terms agg (NEW r15, serving/aggs.run_aggs): tuple-
    keyed terms buckets over (source, lang) with the ES '|'
    key_as_string, top-5 by count, a stats metric below; docs missing
    either field land in no bucket. Oracle replays the concat key and
    the dense_rank cut."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    d = _t(spark, sf, "documents")
    return run_aggs(d, {
        "aggs": {
            "src_lang": {
                "multi_terms": {"terms": [{"field": "source"},
                                          {"field": "lang"}],
                                "size": 5},
                "aggs": {"len_avg": {"avg": {"field": "n_chars"}}},
            }
        },
    })


SQL_AGGS_MULTI_TERMS = """
WITH g AS (
  SELECT source || '|' || lang AS src_lang,
         CAST(count(*) AS BIGINT) AS doc_count,
         avg(n_chars) AS len_avg
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1),
r AS (
  SELECT *, dense_rank() OVER (
    ORDER BY doc_count DESC, src_lang ASC) AS rk FROM g)
SELECT src_lang, doc_count, len_avg FROM r WHERE rk <= 5
"""


def q_stream_ewma_anomalies(spark, sf):
    """Streaming EWMA control chart (NEW r15, operators/analytics.
    hourly_counts_merge_into + ewma_anomalies_read): the SAME
    accumulated hourly grid the rate-anomaly monitor maintains serves
    the EWMA readout — one state store, two charts; events arrive in
    two drops through a real checkpointed foreachBatch and the
    post-stream answer equals batch ewma_anomalies over everything
    ingested (the oracle)."""
    import shutil

    from platypus_ingestion_plugins_spark.operators.analytics import (
        ewma_anomalies_read,
        hourly_counts_merge_into,
    )

    d = _events_ts(spark, sf).select("event_id", "ts", "event_type")
    lo, hi = _median_split(d, "event_id")
    work = _stream_scratch("stream_ewma_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(work, "src")
        ckpt = os.path.join(work, "ckpt")
        state = os.path.join(work, "hourly")

        def run_available(mfpt, schema):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", mfpt)
                .parquet(src)
                .writeStream.foreachBatch(
                    lambda b, bid: hourly_counts_merge_into(
                        b, "ts", "event_type", state, batch_id=bid
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _replay_two_drops(spark, lo, hi, src, ckpt, run_available)
        out = ewma_anomalies_read(spark, state)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def q_ab_cuped(spark, sf):
    """CUPED variance-reduced readout (NEW r15, operators/analytics.
    ab_test_cuped): per-user late-period purchase value adjusted by
    the pre-period covariate with the pooled theta — var_adj <=
    var_raw is the point; the oracle replays theta, the neutral NULL
    imputation, and the per-arm moments."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        ab_test_cuped,
    )

    e = _events_ts(spark, sf)
    cut = F.lit("2024-01-15").cast("timestamp")
    per = (
        e.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") >= cut, F.col("value"))).alias("y"),
            F.sum(F.when(F.col("ts") < cut, F.col("value"))).alias("x"),
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B")).alias("variant"),
            "y", "x",
        )
    )
    return ab_test_cuped(per, "variant", "y", "x")


SQL_AB_CUPED = """
WITH per AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN value END) AS y,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN value END) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
b AS (SELECT * FROM per WHERE y IS NOT NULL),
st AS (
  SELECT covar_pop(x, y) AS cov, var_pop(x) AS varx, avg(x) AS mx
  FROM b),
a AS (
  SELECT variant, y,
         y - (CASE WHEN varx > 0 THEN cov / varx ELSE 0 END)
             * coalesce(x - mx, 0) AS adj
  FROM b, st)
SELECT variant, CAST(count(*) AS BIGINT) AS n,
       round(avg(y), 6) AS mean_raw, round(avg(adj), 6) AS mean_adj,
       round(var_pop(y), 6) AS var_raw, round(var_pop(adj), 6) AS var_adj
FROM a GROUP BY variant
"""


def q_srm_check(spark, sf):
    """Sample-ratio-mismatch check (NEW r15, operators/analytics.
    srm_check): per-user deterministic arm assignment against a
    50/40/10 expected allocation; chi-square goodness-of-fit terms per
    arm. The oracle replays the expected counts and terms."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        srm_check,
    )

    users = (
        _t(spark, sf, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .select(
            F.when(F.col("user_id") % 10 < 5, F.lit("A"))
            .when(F.col("user_id") % 10 < 9, F.lit("B"))
            .otherwise(F.lit("C")).alias("arm")
        )
    )
    return srm_check(users, "arm", {"A": 0.5, "B": 0.4, "C": 0.1})


SQL_SRM_CHECK = """
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
arms AS (
  SELECT CASE WHEN user_id % 10 < 5 THEN 'A'
              WHEN user_id % 10 < 9 THEN 'B' ELSE 'C' END AS variant
  FROM users),
cnt AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n FROM arms
  GROUP BY variant),
exp AS (
  SELECT * FROM (VALUES ('A', 0.5), ('B', 0.4), ('C', 0.1))
  AS t(variant, share)),
tot AS (SELECT sum(n) AS total FROM cnt)
SELECT e.variant, coalesce(c.n, 0) AS n,
       round(e.share * tot.total, 6) AS expected_n,
       round((coalesce(c.n, 0) - e.share * tot.total)
             * (coalesce(c.n, 0) - e.share * tot.total)
             / (e.share * tot.total), 6) AS chi2_term
FROM exp e LEFT JOIN cnt c ON e.variant = c.variant, tot
"""


def q_aggs_missing(spark, sf):
    """ES missing bucket (NEW r15, serving/aggs.run_aggs): docs
    WITHOUT a field (deterministically synthesized NULLs — the
    json_validity convention) with a stats metric below; the
    data-quality counterpart of exists. Oracle replays the NULL rule
    and the narrowed stats."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    d = _t(spark, sf, "documents").withColumn(
        "payload",
        # derived from doc_id ALONE: a lang-dependent payload would
        # silently diverge from the oracle's pure doc_id%4 WHERE if
        # regenerated testdata ever carried NULL langs (review pin)
        F.when(F.col("doc_id") % 4 != 0,
               F.concat(F.lit("p"), (F.col("doc_id") % 7).cast("string"))),
    )
    return run_aggs(d, {
        "aggs": {
            "no_payload": {
                "missing": {"field": "payload"},
                "aggs": {"len": {"stats": {"field": "n_chars"}}},
            }
        },
    })


SQL_AGGS_MISSING = """
SELECT 'no_payload' AS no_payload,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(count(n_chars) AS BIGINT) AS len_count,
       min(n_chars) AS len_min, max(n_chars) AS len_max,
       avg(n_chars) AS len_avg,
       CAST(sum(n_chars) AS BIGINT) AS len_sum
FROM documents WHERE doc_id % 4 = 0
"""


def q_ppr_seeds(spark, sf):
    """Personalized PageRank (NEW r15, operators/graph.pagerank with
    seeds): importance relative to the {purchase, signup} event types
    on the transition graph — teleport, init, and dangling mass all
    concentrate on the seed set; the oracle unrolls the same rounds
    with the seed-indicator teleport vector."""
    from pyspark.sql.window import Window

    from platypus_ingestion_plugins_spark.operators.graph import pagerank

    d = _events_ts(spark, sf)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    edges = (
        d.where(F.col("ts").isNotNull())
        .select(
            F.lag("event_type").over(w).alias("s"),
            F.col("event_type").alias("t"),
        )
        .where(F.col("s").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    seeds = spark.createDataFrame(
        [("purchase",), ("signup",)], "node string"
    )
    return pagerank(edges, "s", "t", "w", iterations=5, damping=0.85,
                    seeds=seeds)


def _ppr_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Personalized-PageRank rounds unrolled as SQL CTEs — the
    ``_pagerank_oracle_sql`` shape with the seed-concentrated
    teleport vector replacing every 1/N term."""
    d = damping
    head = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) s,
         event_type t
  FROM events WHERE ts IS NOT NULL),
e AS (SELECT s, t AS d, CAST(count(*) AS DOUBLE) w
      FROM pairs WHERE s IS NOT NULL GROUP BY 1, 2),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
ow AS (SELECT s AS node, sum(w) ow FROM e GROUP BY s),
ns AS (SELECT CAST(count(*) AS DOUBLE) c FROM nodes
       WHERE node IN ('purchase', 'signup')),
v AS (SELECT node, CASE WHEN node IN ('purchase', 'signup')
                        THEN 1.0 / ns.c ELSE 0.0 END AS v
      FROM nodes, ns),
r0 AS (SELECT node, v AS rank FROM v)"""
    body = []
    for i in range(iterations):
        body.append(f""",
d{i} AS (SELECT coalesce(sum(CASE WHEN ow.ow IS NULL
                             THEN r{i}.rank END), 0) dang
         FROM r{i} LEFT JOIN ow USING (node)),
c{i} AS (SELECT e.d AS node, sum(r{i}.rank * e.w / ow.ow) inp
         FROM r{i} JOIN ow USING (node) JOIN e ON e.s = r{i}.node
         GROUP BY e.d),
r{i + 1} AS (SELECT v.node,
             (1.0 - {d}) * v.v
             + {d} * (coalesce(c{i}.inp, 0) + d{i}.dang * v.v) AS rank
             FROM v LEFT JOIN c{i} USING (node), d{i})""")
    return (
        head
        + "".join(body)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


def q_aggs_pipeline(spark, sf):
    """ES pipeline aggs in the DSL (NEW r15, serving/aggs.run_aggs):
    a stored terms → date_histogram body with cumulative_sum /
    derivative / moving_avg siblings on _count runs unchanged —
    windows per parent over the bucket-grid rectangle (the
    date_histogram_pipeline conventions). The oracle replays the
    snapshot-ranked parents and all three windows."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    e = _events_ts(spark, sf)
    return run_aggs(e, {
        "aggs": {
            "et": {
                "terms": {"field": "event_type", "size": 3},
                "aggs": {
                    "day": {
                        "date_histogram": {"field": "ts",
                                           "calendar_interval": "day",
                                           "min_doc_count": 1},
                        "aggs": {
                            "vals": {"value_count": {"field": "value"}},
                            "cum": {"cumulative_sum":
                                    {"buckets_path": "_count"}},
                            "deriv": {"derivative":
                                      {"buckets_path": "_count"}},
                            "mov": {"moving_avg":
                                    {"buckets_path": "_count",
                                     "window": 3}},
                        },
                    }
                },
            }
        },
    })


SQL_AGGS_PIPELINE = """
WITH h AS (
  SELECT event_type AS et, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS doc_count,
         CAST(count(value) AS BIGINT) AS vals
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
tot AS (
  SELECT event_type AS et, CAST(count(*) AS BIGINT) AS c FROM events
  WHERE event_type IS NOT NULL GROUP BY 1),
r AS (
  SELECT h.*, dense_rank() OVER (ORDER BY tot.c DESC, h.et ASC) AS rk
  FROM h JOIN tot USING (et))
SELECT et, day, doc_count, vals,
       CAST(sum(doc_count) OVER (
         PARTITION BY et ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum,
       doc_count - lag(doc_count) OVER (PARTITION BY et ORDER BY day)
         AS deriv,
       round(avg(doc_count) OVER (
         PARTITION BY et ORDER BY day
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov
FROM r WHERE rk <= 3
"""


def q_aggs_geo_rings(spark, sf):
    """ES geo_distance agg (NEW r15, serving/aggs.run_aggs): km rings
    of the codegen haversine around (48, 2) over order-key-derived
    coordinates, doc counts + a value metric per ring; bands cut the
    RAW distance (bit-identical across engines for this derivation —
    the geo_distance round-once rule). Oracle replays the trig and
    the CASE bands."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    pts = _t(spark, sf, "orders").select(
        "o_totalprice",
        ((F.col("o_orderkey") * F.lit(7919)) % F.lit(17000) / F.lit(100.0)
         - F.lit(85.0)).alias("lat"),
        ((F.col("o_orderkey") * F.lit(104729)) % F.lit(36000) / F.lit(100.0)
         - F.lit(180.0)).alias("lon"),
    )
    return run_aggs(pts, {
        "aggs": {
            "rings": {
                "geo_distance": {
                    "lat_field": "lat", "lon_field": "lon",
                    "origin": {"lat": 48.0, "lon": 2.0},
                    "ranges": [{"to": 3000}, {"from": 3000, "to": 8000},
                               {"from": 8000}],
                },
                "aggs": {"price": {"avg": {"field": "o_totalprice"}}},
            }
        },
    })


SQL_AGGS_GEO_RINGS = """
WITH pts AS (
  SELECT o_totalprice,
         (o_orderkey * 7919) % 17000 / 100.0 - 85.0 AS lat,
         (o_orderkey * 104729) % 36000 / 100.0 - 180.0 AS lon
  FROM orders),
d AS (
  SELECT o_totalprice,
         2.0 * 6371.0088 * asin(
             CASE WHEN sqrt(s) > 1.0 THEN 1.0 ELSE sqrt(s) END) AS dist
  FROM (
    SELECT o_totalprice,
           sin(radians(48.0 - lat) / 2.0) * sin(radians(48.0 - lat) / 2.0)
           + cos(radians(lat)) * cos(radians(48.0))
             * (sin(radians(2.0 - lon) / 2.0) * sin(radians(2.0 - lon) / 2.0))
             AS s
    FROM pts)),
b AS (
  SELECT CASE WHEN dist < 3000 THEN '*-3000.0'
              WHEN dist >= 3000 AND dist < 8000 THEN '3000.0-8000.0'
              ELSE '8000.0-*' END AS rings,
         o_totalprice
  FROM d WHERE dist IS NOT NULL)
SELECT rings, CAST(count(*) AS BIGINT) AS doc_count,
       avg(o_totalprice) AS price
FROM b GROUP BY rings
"""


def q_doremi_weights(spark, sf):
    """DoReMi domain-reweighting step (NEW r15, functions/sampling.
    doremi_reweight): per-source mean proxy vs reference losses
    (deterministically synthesized — the json_validity convention),
    clipped excess, prior-weighted exponential update, normalized;
    one corpus groupBy + a domain-bounded softmax with 1-row
    broadcasts. The oracle replays the synthesis, the partial prior's
    uniform backfill, and the softmax."""
    from platypus_ingestion_plugins_spark.functions.sampling import (
        doremi_reweight,
    )

    d = _t(spark, sf, "documents").select(
        "source",
        F.log(F.lit(1.0) + (F.col("doc_id") * 31 + F.col("n_chars")) % 97)
        .alias("loss"),
        F.log(F.lit(1.0) + (F.col("doc_id") * 17) % 89).alias("ref"),
    )
    return doremi_reweight(
        d, "source", "loss", "ref", step_size=2.0,
        prior={"src0": 0.3},
    )


SQL_DOREMI_WEIGHTS = """
WITH b AS (
  SELECT source,
         ln(1.0 + (doc_id * 31 + n_chars) % 97) AS loss,
         ln(1.0 + (doc_id * 17) % 89) AS ref
  FROM documents WHERE source IS NOT NULL),
per AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n,
         avg(loss) AS ml, avg(ref) AS mr,
         greatest(avg(loss) - avg(ref), 0.0) AS ex
  FROM b GROUP BY source),
k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM per),
u AS (
  SELECT per.*, coalesce(CASE WHEN domain = 'src0' THEN 0.3 END,
                         1.0 / k.k) * exp(2.0 * ex) AS un
  FROM per, k),
z AS (SELECT sum(un) AS z FROM u)
SELECT domain, n, round(ml, 6) AS mean_loss, round(mr, 6) AS mean_ref,
       round(ex, 6) AS excess, round(un / z.z, 6) AS weight
FROM u, z
"""


def q_aggs_percentiles(spark, sf):
    """ES percentiles metric in the DSL (NEW r15, serving/aggs.
    run_aggs): terms → percentiles, EXACT where ES TDigests (the
    percentile_ranks_facet contract), whole-number percents expanding
    to _p25-style columns; the oracle replays with quantile_cont."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    e = _events_ts(spark, sf)
    return run_aggs(e, {
        "aggs": {
            "et": {
                "terms": {"field": "event_type", "size": 10},
                "aggs": {"v": {"percentiles":
                               {"field": "value",
                                "percents": [25, 50, 90]}}},
            }
        },
    })


SQL_AGGS_PERCENTILES = """
SELECT event_type AS et, CAST(count(*) AS BIGINT) AS doc_count,
       quantile_cont(value, 0.25) AS v_p25,
       quantile_cont(value, 0.50) AS v_p50,
       quantile_cont(value, 0.90) AS v_p90
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
"""


def q_aggs_top_hits(spark, sf):
    """ES top_hits in the DSL (NEW r15, serving/aggs.run_aggs): the
    per-bucket drill-down rows as a FLAT rectangle (keys + hit_rank +
    _source, one row per hit) — top-3 languages by true doc_count,
    two longest docs each (doc_id tiebreak for a deterministic
    order); the oracle replays the parent cut and the per-bucket
    row_number."""
    from platypus_ingestion_plugins_spark.serving.aggs import run_aggs

    d = _t(spark, sf, "documents")
    return run_aggs(d, {
        "aggs": {
            "lg": {
                "terms": {"field": "lang", "size": 3},
                "aggs": {"top": {"top_hits": {
                    "size": 2,
                    "sort": [{"n_chars": "desc"}, {"doc_id": "asc"}],
                    "_source": ["doc_id", "n_chars"],
                }}},
            }
        },
    })


SQL_AGGS_TOP_HITS = """
WITH tot AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents
  WHERE lang IS NOT NULL GROUP BY lang),
r AS (
  SELECT lang, dense_rank() OVER (ORDER BY c DESC, lang ASC) AS rk
  FROM tot),
hits AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS hr
  FROM documents WHERE lang IS NOT NULL)
SELECT h.lang AS lg, CAST(h.hr AS INT) AS hit_rank, h.doc_id, h.n_chars
FROM hits h JOIN r USING (lang)
WHERE r.rk <= 3 AND h.hr <= 2
"""


# --------------------------------------------------------------------------
# Driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 shape on sf0.001."""
    return q_tpch_q1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered so the least-recently-driver-verified queries come FIRST
    # (the driver caps each round's oracle sweep at 50 entries, so dict
    # order IS verification priority — r17 rotation, recomputed per
    # VERDICT r16 task #1):
    return {
        #   0.  the SEVEN r16-touched queries the driver has not
        #       value-checked since their code changed (gate recal,
        #       checkpoint revert, job overlap + compaction
        #       reordering) — VERDICT r16 task #1 orders them first.
        #   1.  staleness continuation: every entry NOT in the r16
        #       sweep, ascending by last driver-green round
        #       (r11 -> r12 -> r13 -> r14 -> r15 cohorts, each in its
        #       CORRECTNESS file order) — resumes exactly where the
        #       r16 cap stopped.
        #   2.  the 50 entries CORRECTNESS_r16 just verified (the
        #       freshest) move to the END.
        # 0. the seven r16-touched, driver-unverified queries
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "pipeline_clean_corpus": q_pipeline_clean_corpus,
        "language_classifier": q_language_classifier,
        "stream_line_dedup": q_stream_line_dedup,
        "stream_image_neardup": q_stream_image_neardup,
        "stream_neardup_dedup": q_stream_neardup_dedup,
        "stream_profile": q_stream_profile,
        # 1. staleness continuation (resumes at the r16 cap point:
        #    the remaining r11-stale cohort, then r12 -> r15)
        "serving_compact": q_serving_compact,
        "decontam_flags": q_decontam_flags,
        "pii_scrub": q_pii_scrub,
        "unigram_logprob": q_unigram_logprob,
        "temperature_mix": q_temperature_mix,
        "asof_join": q_asof_join,
        "cube_agg": q_cube_agg,
        "dataset_split": q_dataset_split,
        "hourly_agg": q_hourly_agg,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_meta": q_multimodal_meta,
        "image_neardup": q_image_neardup,
        "audio_stats": q_audio_stats,
        "video_neardup": q_video_neardup,
        "audio_neardup": q_audio_neardup,
        "bpe_token_count": q_bpe_token_count,
        "hybrid_search": q_hybrid_search,
        "chat_render": q_chat_render,
        "chat_sft_stats": q_chat_sft_stats,
        "chat_assistant_dedup": q_chat_assistant_dedup,
        "facet_counts": q_facet_counts,
        "script_detect": q_script_detect,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "html_extract": q_html_extract,
        "highlight_snippet": q_highlight_snippet,
        "length_batches": q_length_batches,
        "multimodal_resize": q_multimodal_resize,
        "pivot_event_counts": q_pivot_event_counts,
        "range_join_bands": q_range_join,
        "sessionize": q_sessionize,
        "sink_array_json": q_sink_array_json,
        "sink_typed_strings": q_sink_typed_strings,
        "stratified_sample": q_stratified_sample,
        "text_language_id": q_text_language_id,
        "text_quality_filter": q_text_quality_filter,
        "text_stats": q_text_stats,
        "match_all_topk": q_match_all_topk,
        "match_all_offset": q_match_all_offset,
        "term": q_term,
        "term_in_set": q_term_in_set,
        "fulltext_match": q_fulltext_match,
        # ---- 50-entry sweep cap falls HERE (7 touched + 43
        #      stale; entries below re-enter in later rotations) ----
        "fulltext_ranked": q_fulltext_ranked,
        "fulltext_tfidf": q_fulltext_tfidf,
        "fulltext_bm25": q_fulltext_bm25,
        "fulltext_phrase": q_fulltext_phrase,
        "term_prefix": q_term_prefix,
        "hit_count": q_hit_count,
        "multivalued_contains": q_multivalued_contains,
        "line_dedup": q_line_dedup,
        "top_terms_per_group": q_top_terms_per_group,
        "hashed_bow_embedding": q_hashed_bow_embedding,
        "bow_knn": q_bow_knn,
        "quality_autocalibrated_filter": q_quality_autocalibrated_filter,
        "cdc_format_last_wins": q_cdc_format_last_wins,
        "embedding_decontam": q_embedding_decontam,
        "semdedup_keep": q_semdedup_keep,
        "sft_spans": q_sft_spans,
        "mmr_rerank": q_mmr_rerank,
        "ann_recall": q_ann_recall,
        "pack_sft": q_pack_sft,
        "cdc_time_travel": q_cdc_time_travel,
        "hard_negatives": q_hard_negatives,
        "ndcg_eval": q_ndcg_eval,
        "bm25_prf": q_bm25_prf,
        "cdc_compact_read": q_cdc_compact_read,
        "stream_chat_dedup": q_stream_chat_dedup,
        "assemble_chat": q_assemble_chat,
        "fix_mojibake": q_fix_mojibake,
        "containment_join": q_containment_join,
        "histogram_facet": q_histogram_facet,
        "pack_bins": q_pack_bins,
        "pack_texts": q_pack_texts,
        "shuffle_shards": q_shuffle_shards,
        "fuzzy_join": q_fuzzy_join,
        "stream_heavy_hitters": q_stream_heavy_hitters,
        "stream_quantiles": q_stream_quantiles,
        "ivf_append_compact": q_ivf_append_compact,
        "stream_cdc_materialize": q_stream_cdc_materialize,
        "band_index_compact": q_band_index_compact,
        "tar_roundtrip": q_tar_roundtrip,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "jaccard_join": q_jaccard_join,
        "dedup_groups": q_dedup_groups,
        "bloom_decontam": q_bloom_decontam,
        "dedup_survivors": q_dedup_survivors,
        "winnow_overlap": q_winnow_overlap,
        "embedding_dedup_groups": q_embedding_dedup_groups,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash": q_dedup_simhash,
        "simhash_neardup": q_simhash_neardup,
        "salted_join_agg": q_salted_join_agg,
        "distinct_sketch": q_distinct_sketch,
        "repetition_stats": q_repetition_stats,
        "embedding_neardup": q_embedding_neardup,
        "knn_join": q_knn_join,
        "similarity_topk": q_similarity_topk,
        "similarity_ann": q_similarity_ann,
        "similarity_quantized": q_similarity_quantized,
        "similarity_ivf": q_similarity_ivf,
        "session_counts": q_session_counts,
        "resample_ffill": q_resample_ffill,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "model_score": q_model_score,
        "quantile_sketch": q_quantile_sketch,
        "range_bool_query": q_range_bool_query,
        "budget_select_bpe": q_budget_select_bpe,
        "indexed_term_search": q_indexed_term_search,
        "fuzzy_suggest": q_fuzzy_suggest,
        "stream_term_index": q_stream_term_index,
        "term_index_lifecycle": q_term_index_lifecycle,
        "indexed_phrase_search": q_indexed_phrase_search,
        "indexed_bm25": q_indexed_bm25,
        "hybrid_indexed": q_hybrid_indexed,
        "constraint_report": q_constraint_report,
        "cc_scrub": q_cc_scrub,
        "stream_constraints": q_stream_constraints,
        "search_after": q_search_after,
        "bpe_train": q_bpe_train,
        "indexed_wildcard": q_indexed_wildcard,
        "more_like_this": q_more_like_this,
        "date_histogram": q_date_histogram,
        "key_skew": q_key_skew,
        "group_split": q_group_split,
        "funnel": q_funnel,
        "retention": q_retention,
        "multi_match": q_multi_match,
        "mlt_indexed": q_mlt_indexed,
        "chunk_tokens": q_chunk_tokens,
        "bool_indexed": q_bool_indexed,
        "funnel_windowed": q_funnel_windowed,
        "index_stats": q_index_stats,
        "ab_test": q_ab_test,
        "stream_funnel": q_stream_funnel,
        "event_transitions": q_event_transitions,
        "preference_pairs": q_preference_pairs,
        "phrase_slop": q_phrase_slop,
        "span_near": q_span_near,
        "funnel_cascade": q_funnel_cascade,
        "significant_terms": q_significant_terms,
        "event_paths": q_event_paths,
        "rate_anomalies": q_rate_anomalies,
        "tokenizer_fit": q_tokenizer_fit,
        "text_normalize": q_text_normalize,
        "chunk_text": q_chunk_text,
        "zorder_values": q_zorder_values,
        "cap_per_group": q_cap_per_group,
        "dataset_diff": q_dataset_diff,
        "tpch_q1": q_tpch_q1,
        "tpch_q3ish": q_tpch_q3ish,
        "tpch_q5ish": q_tpch_q5ish,
        "join_segment_revenue": q_join_segment_revenue,
        "event_gaps": q_event_gaps,
        "percentiles": q_percentiles,
        "mixture_plan": q_mixture_plan,
        "attribution": q_attribution,
        "survival_km": q_survival_km,
        "rfm_segments": q_rfm_segments,
        "percolate": q_percolate,
        "collapse_source": q_collapse,
        "tfidf_keywords": q_tfidf_keywords,
        "rouge_pairs": q_rouge_pairs,
        "char_entropy": q_char_entropy,
        "phrase_prefix": q_phrase_prefix,
        "stats_facet": q_stats_facet,
        "recency_decay": q_recency_decay,
        "stream_rate_anomalies": q_stream_rate_anomalies,
        "pagerank": q_pagerank,
        "fd_violations": q_fd_violations,
        "pmi_pairs": q_pmi_pairs,
        "stream_percolate": q_stream_percolate,
        "seasonal_anomalies": q_seasonal_anomalies,
        "terms_lookup_filter": q_terms_lookup,
        "adjacency_matrix": q_adjacency_matrix,
        "geo_distance": q_geo_distance,
        "indexed_regexp": q_indexed_regexp,
        "geo_grid": q_geo_grid,
        "stickiness": q_stickiness,
        "percentile_ranks": q_percentile_ranks,
        "rare_terms": q_rare_terms,
        "composite_page": q_composite_page,
        "histogram_pipeline": q_histogram_pipeline,
        "indexed_prefix": q_indexed_prefix,
        "maxsim_topk": q_maxsim_topk,
        "did_you_mean": q_did_you_mean,
        "diff_in_diff": q_diff_in_diff,
        "funnel_latency": q_funnel_latency,
        "eval_report": q_eval_report,
        "calibration": q_calibration,
        "knn_label": q_knn_label,
        "corpus_kl": q_corpus_kl,
        "synonym_search": q_synonym_search,
        "dsl_query": q_dsl_query,
        "update_by_query": q_update_by_query,
        "soft_dedup": q_soft_dedup,
        "json_validity": q_json_validity,
        "aggs_dsl": q_aggs_dsl,
        "aggs_dsl_range": q_aggs_dsl_range,
        "simple_query": q_simple_query,
        "triangle_count": q_triangle_count,
        "fim_split": q_fim_split,
        "pretraining_mix": q_pretraining_mix,
        "corpus_overlap": q_corpus_overlap,
        "tar_scrub": q_tar_scrub,
        # 2. the 50 entries CORRECTNESS_r16 verified (freshest last)
        "lpa_communities": q_lpa_communities,
        "span_corrupt": q_span_corrupt,
        "psi_drift": q_psi_drift,
        "ewma_anomalies": q_ewma_anomalies,
        "aggs_dsl_filter": q_aggs_dsl_filter,
        "kcore_graph": q_kcore_graph,
        "readability": q_readability,
        "aggs_multi_terms": q_aggs_multi_terms,
        "stream_ewma_anomalies": q_stream_ewma_anomalies,
        "ab_cuped": q_ab_cuped,
        "srm_check": q_srm_check,
        "aggs_missing": q_aggs_missing,
        "ppr_seeds": q_ppr_seeds,
        "aggs_pipeline": q_aggs_pipeline,
        "aggs_geo_rings": q_aggs_geo_rings,
        "doremi_weights": q_doremi_weights,
        "aggs_percentiles": q_aggs_percentiles,
        "aggs_top_hits": q_aggs_top_hits,
        "corpus_profile": q_corpus_profile,
        "quality_classifier": q_quality_classifier,
        "url_dedup": q_url_dedup,
        "paragraph_dedup": q_paragraph_dedup,
        "c4_filter": q_c4_filter,
        "bigram_logprob": q_bigram_logprob,
        "stratified_interleave": q_stratified_interleave,
        "semdedup_kmeans": q_semdedup_kmeans,
        "avro_roundtrip": q_avro_roundtrip,
        "budget_select": q_budget_select,
        "exact_substring_dedup": q_exact_substring_dedup,
        "stream_exact_substring_dedup": q_stream_exact_substring_dedup,
        "weighted_sample": q_weighted_sample,
        "line_dedup_by_source": q_line_dedup_by_source,
        "perplexity_buckets": q_perplexity_buckets,
        "dsir_select": q_dsir_select,
        "gopher_quality": q_gopher_quality,
        "window_topk_per_group": q_window_topk_per_group,
        "heavy_hitters_sketch": q_heavy_hitters_sketch,
        "sliding_counts": q_sliding_counts,
        "semi_join": q_semi_join,
        "set_except": q_set_except,
        "tpch_q6ish": q_tpch_q6ish,
        "multimodal_external_meta": q_multimodal_external_meta,
        "stream_dedup_exact": q_stream_dedup_exact,
        "stream_agg_materialize": q_stream_agg_materialize,
        "stream_sessionize": q_stream_sessionize,
        "cdc_last_wins": q_cdc_last_wins,
        "flatten_rename_drop": q_flatten_rename_drop,
        "shard_modulo": q_shard_modulo,
        "agg_rollup": q_agg_rollup,
        "anti_join": q_anti_join,
    }


def oracle_sql() -> dict[str, str]:
    sql = {
        # generated from the frozen merge fixture (r12: the suite's
        # last rows-only entry becomes a full value check)
        "geo_distance": SQL_GEO_DISTANCE,
        "indexed_regexp": SQL_INDEXED_REGEXP,
        "geo_grid": SQL_GEO_GRID,
        "stickiness": SQL_STICKINESS,
        "percentile_ranks": SQL_PERCENTILE_RANKS,
        "rare_terms": SQL_RARE_TERMS,
        "composite_page": SQL_COMPOSITE_PAGE,
        "histogram_pipeline": SQL_HISTOGRAM_PIPELINE,
        "indexed_prefix": SQL_INDEXED_PREFIX,
        "maxsim_topk": SQL_MAXSIM_TOPK,
        "did_you_mean": SQL_DID_YOU_MEAN,
        "diff_in_diff": SQL_DIFF_IN_DIFF,
        "funnel_latency": SQL_FUNNEL_LATENCY,
        "eval_report": SQL_EVAL_REPORT,
        "calibration": SQL_CALIBRATION,
        "knn_label": SQL_KNN_LABEL,
        "corpus_kl": SQL_CORPUS_KL,
        "synonym_search": SQL_SYNONYM_SEARCH,
        "dsl_query": SQL_DSL_QUERY,
        "update_by_query": SQL_UPDATE_BY_QUERY,
        "soft_dedup": SQL_SOFT_DEDUP,
        "json_validity": SQL_JSON_VALIDITY,
        "aggs_dsl": SQL_AGGS_DSL,
        "aggs_dsl_range": SQL_AGGS_DSL_RANGE,
        "simple_query": SQL_SIMPLE_QUERY,
        "triangle_count": SQL_TRIANGLE_COUNT,
        "fim_split": SQL_FIM_SPLIT,
        "lpa_communities": _lpa_oracle_sql(),
        "span_corrupt": SQL_SPAN_CORRUPT,
        "psi_drift": SQL_PSI_DRIFT,
        "ewma_anomalies": SQL_EWMA_ANOMALIES,
        "aggs_dsl_filter": SQL_AGGS_DSL_FILTER,
        "kcore_graph": _kcore_oracle_sql(),
        "readability": SQL_READABILITY,
        "aggs_multi_terms": SQL_AGGS_MULTI_TERMS,
        "stream_ewma_anomalies": SQL_EWMA_ANOMALIES,
        "ab_cuped": SQL_AB_CUPED,
        "srm_check": SQL_SRM_CHECK,
        "aggs_missing": SQL_AGGS_MISSING,
        "ppr_seeds": _ppr_oracle_sql(),
        "aggs_pipeline": SQL_AGGS_PIPELINE,
        "aggs_geo_rings": SQL_AGGS_GEO_RINGS,
        "doremi_weights": SQL_DOREMI_WEIGHTS,
        "aggs_percentiles": SQL_AGGS_PERCENTILES,
        "aggs_top_hits": SQL_AGGS_TOP_HITS,
        "bpe_token_count": _bpe_oracle_sql(),
        "image_neardup": SQL_IMAGE_NEARDUP,
        "language_classifier": SQL_LANGUAGE_CLASSIFIER,
        "audio_stats": SQL_AUDIO_STATS,
        "video_neardup": SQL_VIDEO_NEARDUP,
        "audio_neardup": SQL_AUDIO_NEARDUP,
        "stream_image_neardup": SQL_STREAM_IMAGE_NEARDUP,
        "pipeline_clean_corpus": SQL_PIPELINE_CLEAN_CORPUS,
        "line_dedup": SQL_LINE_DEDUP,
        "top_terms_per_group": SQL_TOP_TERMS_PER_GROUP,
        "hashed_bow_embedding": SQL_HASHED_BOW_EMBEDDING,
        "stream_line_dedup": SQL_STREAM_LINE_DEDUP,
        "bow_knn": SQL_BOW_KNN,
        "fuzzy_join": SQL_FUZZY_JOIN,
        "quality_autocalibrated_filter": SQL_QUALITY_AUTOCAL,
        "session_counts": SQL_SESSION_COUNTS,
        "resample_ffill": SQL_RESAMPLE_FFILL,
        "tar_roundtrip": SQL_TAR_ROUNDTRIP,
        "jsonl_roundtrip": SQL_JSONL_ROUNDTRIP,
        "model_score": SQL_MODEL_SCORE,
        "dedup_survivors": SQL_DEDUP_SURVIVORS,
        "bloom_decontam": SQL_BLOOM_DECONTAM,
        "quantile_sketch": SQL_QUANTILE_SKETCH,
        "ivf_append_compact": SQL_IVF_APPEND_COMPACT,
        "text_normalize": SQL_TEXT_NORMALIZE,
        "stream_heavy_hitters": SQL_HEAVY_HITTERS_SKETCH,
        "stream_quantiles": SQL_STREAM_QUANTILES,
        "chunk_text": SQL_CHUNK_TEXT,
        "zorder_values": SQL_ZORDER_VALUES,
        "cap_per_group": SQL_CAP_PER_GROUP,
        "dataset_diff": SQL_DATASET_DIFF,
        "decontam_flags": SQL_DECONTAM_FLAGS,
        "pii_scrub": SQL_PII_SCRUB,
        "serving_compact": SQL_SERVING_COMPACT,
        "unigram_logprob": SQL_UNIGRAM_LOGPROB,
        "shuffle_shards": SQL_SHUFFLE_SHARDS,
        "pack_bins": SQL_PACK_BINS,
        "pack_texts": SQL_PACK_TEXTS,
        "cdc_last_wins": SQL_CDC_LAST_WINS,
        "cdc_format_last_wins": SQL_CDC_LAST_WINS,
        "sink_typed_strings": SQL_SINK_TYPED_STRINGS,
        "sink_array_json": SQL_SINK_ARRAY_JSON,
        "flatten_rename_drop": SQL_FLATTEN_RENAME_DROP,
        "shard_modulo": SQL_SHARD_MODULO,
        "match_all_topk": SQL_MATCH_ALL_TOPK,
        "match_all_offset": SQL_MATCH_ALL_OFFSET,
        "term": SQL_TERM,
        "fulltext_match": SQL_FULLTEXT_MATCH,
        "fulltext_ranked": SQL_FULLTEXT_RANKED,
        "fulltext_tfidf": SQL_FULLTEXT_TFIDF,
        "fulltext_bm25": SQL_FULLTEXT_BM25,
        "hybrid_search": SQL_HYBRID_SEARCH,
        "chat_render": SQL_CHAT_RENDER,
        "chat_sft_stats": SQL_CHAT_SFT_STATS,
        "chat_assistant_dedup": SQL_CHAT_ASSISTANT_DEDUP,
        "facet_counts": SQL_FACET_COUNTS,
        "script_detect": SQL_SCRIPT_DETECT,
        "pq_codes": SQL_PQ_CODES,
        "pq_adc_topk": SQL_PQ_ADC_TOPK,
        "html_extract": SQL_HTML_EXTRACT,
        "highlight_snippet": SQL_HIGHLIGHT_SNIPPET,
        "length_batches": SQL_LENGTH_BATCHES,
        "fulltext_phrase": SQL_FULLTEXT_PHRASE,
        "term_prefix": SQL_TERM_PREFIX,
        "temperature_mix": SQL_TEMPERATURE_MIX,
        "band_index_compact": SQL_BAND_INDEX_COMPACT,
        "hit_count": SQL_HIT_COUNT,
        "term_in_set": SQL_TERM_IN_SET,
        "multivalued_contains": SQL_MULTIVALUED_CONTAINS,
        "tpch_q1": SQL_TPCH_Q1,
        "join_segment_revenue": SQL_JOIN_SEGMENT_REVENUE,
        "salted_join_agg": SQL_SALTED_JOIN_AGG,
        "pivot_event_counts": SQL_PIVOT_EVENT_COUNTS,
        "cube_agg": SQL_CUBE_AGG,
        "sliding_counts": SQL_SLIDING_COUNTS,
        "event_gaps": SQL_EVENT_GAPS,
        "percentiles": SQL_PERCENTILES,
        "tpch_q5ish": SQL_TPCH_Q5ISH,
        "tpch_q6ish": SQL_TPCH_Q6ISH,
        "tpch_q3ish": SQL_TPCH_Q3ISH,
        "window_topk_per_group": SQL_WINDOW_TOPK_PER_GROUP,
        "agg_rollup": SQL_AGG_ROLLUP,
        "anti_join": SQL_ANTI_JOIN,
        "semi_join": SQL_SEMI_JOIN,
        "set_except": SQL_SET_EXCEPT,
        "sessionize": SQL_SESSIONIZE,
        "stream_sessionize": SQL_STREAM_SESSIONIZE,
        "hourly_agg": SQL_HOURLY_AGG,
        "range_join_bands": SQL_RANGE_JOIN,
        "distinct_sketch": SQL_DISTINCT_SKETCH,
        "heavy_hitters_sketch": SQL_HEAVY_HITTERS_SKETCH,
        "asof_join": SQL_ASOF_JOIN,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
        "jaccard_join": SQL_JACCARD_JOIN,
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "simhash_neardup": SQL_SIMHASH_NEARDUP,
        "winnow_overlap": SQL_WINNOW_OVERLAP,
        "dedup_groups": SQL_DEDUP_GROUPS,
        "knn_join": SQL_KNN_JOIN,
        "similarity_topk": SQL_SIMILARITY_TOPK,
        "similarity_ann": SQL_SIMILARITY_ANN,
        "similarity_quantized": SQL_SIMILARITY_QUANTIZED,
        "similarity_ivf": SQL_SIMILARITY_IVF,
        "embedding_neardup": SQL_EMBEDDING_NEARDUP,
        "embedding_dedup_groups": SQL_EMBEDDING_DEDUP_GROUPS,
        "embedding_decontam": SQL_EMBEDDING_DECONTAM,
        "semdedup_keep": SQL_SEMDEDUP_KEEP,
        "semdedup_kmeans": SQL_SEMDEDUP_KMEANS,
        "avro_roundtrip": SQL_AVRO_ROUNDTRIP,
        "budget_select": SQL_BUDGET_SELECT,
        "exact_substring_dedup": SQL_EXACT_SUBSTRING_DEDUP,
        "stream_exact_substring_dedup": SQL_STREAM_EXACT_SUBSTRING_DEDUP,
        "weighted_sample": SQL_WEIGHTED_SAMPLE,
        "line_dedup_by_source": SQL_LINE_DEDUP_BY_SOURCE,
        "perplexity_buckets": SQL_PERPLEXITY_BUCKETS,
        "dsir_select": SQL_DSIR_SELECT,
        "gopher_quality": SQL_GOPHER_QUALITY,
        "mixture_plan": SQL_MIXTURE_PLAN,
        "stream_profile": SQL_STREAM_PROFILE,
        "pretraining_mix": SQL_PRETRAINING_MIX,
        "corpus_overlap": SQL_CORPUS_OVERLAP,
        "tar_scrub": SQL_TAR_SCRUB,
        "corpus_profile": SQL_CORPUS_PROFILE,
        # bpe_token_count: NO oracle entry on purpose — iterative BPE
        # merging is not ANSI-SQL-expressible; the driver records the
        # weaker rows-only check (unit suite pins the arithmetic)
        "quality_classifier": SQL_QUALITY_CLASSIFIER,
        "url_dedup": SQL_URL_DEDUP,
        "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
        "c4_filter": SQL_C4_FILTER,
        "bigram_logprob": SQL_BIGRAM_LOGPROB,
        "stratified_interleave": SQL_STRATIFIED_INTERLEAVE,
        "text_stats": SQL_TEXT_STATS,
        "text_language_id": SQL_TEXT_LANGUAGE_ID,
        "text_quality_filter": SQL_TEXT_QUALITY_FILTER,
        "repetition_stats": SQL_REPETITION_STATS,
        "dataset_split": SQL_DATASET_SPLIT,
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "sft_spans": SQL_SFT_SPANS,
        "mmr_rerank": SQL_MMR_RERANK,
        "ann_recall": SQL_ANN_RECALL,
        "pack_sft": SQL_PACK_SFT,
        "cdc_time_travel": SQL_CDC_TIME_TRAVEL,
        "hard_negatives": SQL_HARD_NEGATIVES,
        "ndcg_eval": SQL_NDCG_EVAL,
        "bm25_prf": SQL_BM25_PRF,
        "cdc_compact_read": SQL_CDC_LAST_WINS,
        "stream_chat_dedup": SQL_STREAM_CHAT_DEDUP,
        "assemble_chat": SQL_ASSEMBLE_CHAT,
        "fix_mojibake": SQL_FIX_MOJIBAKE,
        "containment_join": SQL_CONTAINMENT_JOIN,
        "histogram_facet": SQL_HISTOGRAM_FACET,
        "range_bool_query": SQL_RANGE_BOOL_QUERY,
        "budget_select_bpe": _bpe_budget_select_sql(),
        "indexed_term_search": SQL_INDEXED_TERM_SEARCH,
        "fuzzy_suggest": SQL_FUZZY_SUGGEST,
        "stream_term_index": SQL_INDEXED_TERM_SEARCH,
        "term_index_lifecycle": SQL_TERM_INDEX_LIFECYCLE,
        "indexed_phrase_search": SQL_INDEXED_PHRASE_SEARCH,
        "phrase_slop": SQL_PHRASE_SLOP,
        "span_near": SQL_SPAN_NEAR,
        "funnel_cascade": SQL_FUNNEL,
        "significant_terms": SQL_SIGNIFICANT_TERMS,
        "event_paths": SQL_EVENT_PATHS,
        "rate_anomalies": SQL_RATE_ANOMALIES,
        "tokenizer_fit": _tokenizer_fit_oracle_sql(),
        "indexed_bm25": SQL_FULLTEXT_BM25,
        "hybrid_indexed": SQL_HYBRID_INDEXED,
        "constraint_report": SQL_CONSTRAINT_REPORT,
        "cc_scrub": SQL_CC_SCRUB,
        "stream_constraints": SQL_STREAM_CONSTRAINTS,
        "search_after": SQL_SEARCH_AFTER,
        "bpe_train": _bpe_train_oracle_sql(),
        "indexed_wildcard": SQL_INDEXED_WILDCARD,
        "more_like_this": SQL_MORE_LIKE_THIS,
        "date_histogram": SQL_DATE_HISTOGRAM,
        "key_skew": SQL_KEY_SKEW,
        "group_split": SQL_GROUP_SPLIT,
        "funnel": SQL_FUNNEL,
        "retention": SQL_RETENTION,
        "multi_match": SQL_MULTI_MATCH,
        "mlt_indexed": SQL_MLT_INDEXED,
        "chunk_tokens": _chunk_tokens_oracle_sql(),
        "bool_indexed": SQL_BOOL_INDEXED,
        "funnel_windowed": SQL_FUNNEL_WINDOWED,
        "index_stats": SQL_INDEX_STATS,
        "ab_test": SQL_AB_TEST,
        "stream_funnel": SQL_STREAM_FUNNEL,
        "event_transitions": SQL_EVENT_TRANSITIONS,
        "preference_pairs": SQL_PREFERENCE_PAIRS,
        "multimodal_external_meta": SQL_MULTIMODAL_EXTERNAL_META,
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        "multimodal_resize": SQL_MULTIMODAL_RESIZE,
        "multimodal_frames": SQL_MULTIMODAL_FRAMES,
        "stream_cdc_materialize": SQL_STREAM_CDC_MATERIALIZE,
        "stream_dedup_exact": SQL_STREAM_DEDUP_EXACT,
        "stream_neardup_dedup": SQL_STREAM_NEARDUP_DEDUP,
        "stream_agg_materialize": SQL_STREAM_AGG_MATERIALIZE,
        # POST-cap (r14 second batch)
        "attribution": SQL_ATTRIBUTION,
        "survival_km": SQL_SURVIVAL_KM,
        "rfm_segments": SQL_RFM_SEGMENTS,
        "percolate": SQL_PERCOLATE,
        "collapse_source": SQL_COLLAPSE,
        "tfidf_keywords": SQL_TFIDF_KEYWORDS,
        "rouge_pairs": SQL_ROUGE_PAIRS,
        "char_entropy": SQL_CHAR_ENTROPY,
        "phrase_prefix": SQL_PHRASE_PREFIX,
        "stats_facet": SQL_STATS_FACET,
        "recency_decay": SQL_RECENCY_DECAY,
        "stream_rate_anomalies": SQL_RATE_ANOMALIES,
        "pagerank": _pagerank_oracle_sql(),
        "fd_violations": SQL_FD_VIOLATIONS,
        "pmi_pairs": SQL_PMI_PAIRS,
        "stream_percolate": SQL_PERCOLATE,
        "seasonal_anomalies": SQL_SEASONAL_ANOMALIES,
        "terms_lookup_filter": SQL_TERMS_LOOKUP,
        "adjacency_matrix": SQL_ADJACENCY_MATRIX,
    }
    # emit in queries() order so a capped harness sweep sees the same
    # least-recently-verified-first priority on both sides
    return {k: sql[k] for k in queries() if k in sql}
