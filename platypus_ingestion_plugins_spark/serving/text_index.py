"""Materialized inverted term index — the Lucene-parity scale path.

The reference serves term/full-text queries from a Lucene inverted
index (NRTSearch; KafkaIngestorE2ETest.java:364-494 pins the
semantics); `serving/query.py` answers the same queries by scanning
the corpus, which is correct but pays O(corpus) I/O per query. This
module materializes the posting lists once — (term, doc id) pairs,
written PARTITIONED by a hash bucket of the term — so a term lookup
reads only the files of the buckets its query terms can live in. At
100 TB the index is built incrementally per ingest batch (append mode)
and a query's I/O tracks its term count, not the corpus.

Storage: four tables on one snapshot log
(platypus_ingestion_plugins_spark.snapshots) at the index path — the
``tb=`` postings, the ``_doclens`` norms (positional indexes), the
``_deletes`` tombstones and the compaction-time ``_termdict``. Every
operation (build, ``delete_docs``, ``compact_term_index``) publishes
one snapshot, so a reader, which pins the newest snapshot and reads
its named files, sees all four tables before the operation or all
after it. Reads never write. The scheme (bucket count, positional)
is in the snapshot's metadata.

Determinism: bucket = pmod(xxhash64(term), buckets) computed by Spark
itself on BOTH the write and the read path (the read side evaluates
the expression on a tiny in-memory frame — never a Python re-
implementation that could drift from the JVM hash). A reader passing
a bucket count other than the pinned one raises instead of silently
pruning away matches.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platypus_ingestion_plugins_spark.serving.query import tokenize
from platypus_ingestion_plugins_spark.snapshots import SnapshotLog

def _term_bucket(term_col, buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(buckets)).cast("int")


def _log(spark: SparkSession, path: str) -> SnapshotLog:
    # ".old": where the older rename-based compactor parked the index
    return SnapshotLog(spark, path, leftovers=(".old",))


def _pin(spark: SparkSession, path: str) -> tuple[SnapshotLog, dict]:
    """The index's log and its newest snapshot, which every table a
    reader touches is read from."""
    log = _log(spark, path)
    snap = log.latest()
    if snap is None:
        raise ValueError(f"no term index at {path}")
    return log, snap


def _scheme(snap: dict) -> dict:
    """The snapshot's (bucket count, positional) pin."""
    return {"buckets": snap["buckets"], "positions": snap["positions"]}


def _doc_col(postings: DataFrame) -> str:
    return [c for c in postings.columns if c not in ("term", "tb", "pos")][0]


def _dictionary_of(postings: DataFrame) -> DataFrame:
    """(term, doc_freq) folded from postings. doc_freq counts distinct
    (id, term) postings, so replayed idempotent appends don't inflate
    it."""
    return (
        postings.select(_doc_col(postings), "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )


def build_term_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    buckets: int = 64,
    mode: str = "overwrite",
    positions: bool = False,
) -> None:
    """Write the posting lists: distinct (term, id) per document from
    the shared analyzer (``serving.query.tokenize`` — the SAME
    tokenization the scan-path queries use, so indexed and scanned
    answers agree), partitioned by the term's hash bucket. One
    explode + one partitioned write, published as one snapshot.

    ``mode="overwrite"`` is a rebuild: the snapshot lists only this
    build's files (tombstones and dictionary dropped), under the
    requested scheme whatever the old one was. ``mode="append"`` is
    the incremental path: its files join the live ones, and the
    compaction-time dictionary leaves the snapshot (it no longer
    covers every term). An append with another scheme raises.
    Appends are replay-safe for idempotent batches only —
    re-appending the same batch duplicates postings; the readers'
    DISTINCT collapses them for membership semantics, like the
    band-key index's append discipline.

    ``positions=True`` writes one posting PER OCCURRENCE with its
    0-based token position (Lucene's positional postings) — required
    by ``search_phrase_indexed``, ~tokens-instead-of-terms bigger —
    and a ``_doclens`` side table, the BM25 length-normalization
    input (Lucene's norms file)."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    log = _log(df.sparkSession, path)
    snap = log.latest()
    scheme = {"buckets": buckets, "positions": positions}
    if mode == "append" and snap is not None and _scheme(snap) != scheme:
        raise ValueError(
            f"index at {path} was written with {_scheme(snap)}, append requested {scheme}"
        )
    if positions:
        postings = df.select(
            F.col(id_col),
            F.posexplode(tokenize(text_col)).alias("pos", "term"),
        )
    else:
        postings = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokenize(text_col))).alias("term"),
        )
    frames = {"": postings.withColumn("tb", _term_bucket(F.col("term"), buckets))}
    if positions:
        frames["_doclens"] = df.select(F.col(id_col), F.size(tokenize(text_col)).alias("dl"))
    log.commit(snap, frames, scheme, "tb", None if mode == "overwrite" else ["_termdict"])


def _query_buckets(
    log: SnapshotLog, snap: dict, terms: Sequence[str], buckets: int | None
) -> tuple[list[str], list[int]]:
    """Check a requested bucket count against the pinned one and
    compute each query term's bucket VIA SPARK's own xxhash64 (a
    one-row local frame — no executor job, no Python hash that could
    drift from the writer's JVM hash). Returns (normalized terms,
    distinct buckets)."""
    if buckets is not None and buckets != snap["buckets"]:
        raise ValueError(
            f"index at {log.path} was written with buckets={snap['buckets']}, "
            f"read requested {buckets}"
        )
    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    for t in terms:
        # postings hold single analyzed tokens; a multi-word or
        # punctuation-bearing "term" would hash to a bucket and then
        # silently match NOTHING (r13 review) — fail loudly and point
        # at the right API instead
        if t and _py_tokenize(t) != [t.lower()]:
            raise ValueError(
                f"term {t!r} is not a single analyzed token; pass analyzed "
                "terms (serving.query tokenize semantics) or use "
                "search_phrase_indexed for multi-word queries"
            )
    norm = sorted({t.lower() for t in terms if t})
    if not norm:
        return [], []
    row = (
        log.spark.range(1)
        .select(
            *[
                _term_bucket(F.lit(t), snap["buckets"]).alias(f"b{i}")
                for i, t in enumerate(norm)
            ]
        )
        .collect()[0]
    )
    return norm, sorted({int(v) for v in row})


def read_postings_pruned(
    spark: SparkSession,
    path: str,
    terms: Sequence[str],
    buckets: int | None = None,
) -> DataFrame:
    """Pruned posting read: only the files of the buckets the query
    terms hash into are opened (the snapshot names them; the literal
    ``tb IN (...)`` partition filter restates the pruning in the plan),
    then the term equality filter lands on the parquet scan. Output:
    distinct (term, id) postings for the requested terms."""
    return _postings(*_pin(spark, path), terms, buckets)


def _postings(
    log: SnapshotLog, snap: dict, terms: Sequence[str], buckets: int | None
) -> DataFrame:
    """``read_postings_pruned`` over a pinned snapshot."""
    return _live(log, snap, _pruned_scan(log, snap, terms, buckets)).drop("tb").distinct()


def _pruned_scan(
    log: SnapshotLog, snap: dict, terms: Sequence[str], buckets: int | None = None
) -> DataFrame:
    """The pre-distinct pruned scan (tb still attached) — split out so
    the file-skip test can read input_file_name BEFORE the distinct's
    exchange erases it."""
    norm, tbs = _query_buckets(log, snap, terms, buckets)
    scan = log.read(snap, [f"tb={b}" for b in tbs])
    return scan.filter(F.col("tb").isin(tbs) & F.col("term").isin(norm))


def delete_docs(spark: SparkSession, path: str, ids: DataFrame) -> None:
    """Logical document deletion — Lucene's tombstone model: the ids
    land in the ``_deletes`` side table (one appending commit, cheap)
    and every reader anti-joins them out; postings stay in place until
    ``compact_term_index`` applies the tombstones physically. A
    physical delete-on-write would have to rewrite EVERY bucket (ids
    hash across all term buckets), which is exactly the
    write-amplification tombstones exist to avoid. ``ids`` must be a
    one-column frame named like the index's id column; anything else
    raises before the commit. Replay-safe: re-appending the same ids
    changes nothing (readers use distinct semantics)."""
    if len(ids.columns) != 1:
        raise ValueError(
            f"delete_docs expects a one-column id frame, got {ids.columns}"
        )
    log, snap = _pin(spark, path)
    (id_col,) = ids.columns
    fields = [f["name"] for f in snap["schema"]["fields"]]
    if id_col not in fields:
        raise ValueError(
            f"delete_docs got ids keyed on {id_col!r}, which the index "
            f"postings at {path} lack ({fields}) — a wrongly-named id frame"
        )
    log.commit(snap, {"_deletes": ids}, _scheme(snap), replace=[])


def _live(log: SnapshotLog, snap: dict, frame: DataFrame) -> DataFrame:
    """Anti-join the snapshot's tombstone set out of a posting or
    doclens frame. The delete set is broadcast (deletion lists are
    request-sized, not corpus-sized — the reference's delete-set query
    shape, PaimonRowProcessor.java:299-315)."""
    if not snap["files"].get("_deletes"):
        return frame
    dels = log.read(snap, table="_deletes").distinct()
    return frame.join(F.broadcast(dels), dels.columns[0], "left_anti")


def compact_term_index(spark: SparkSession, path: str) -> None:
    """Physical compaction: fold the accumulated per-batch posting
    files into one distinct posting set per bucket and the norms into
    one distinct doclens set, applying the tombstones for real, and
    persist the term dictionary. One snapshot replaces postings and
    doclens with the folded rows, lists the new ``_termdict`` and
    drops ``_deletes``: a crash before it publishes leaves the index
    as it was, and the next commit deletes the unpublished files.
    Steady-state append+compact keeps files-per-bucket plateaued, the
    band-key-index policy.

    The dictionary, (term, doc_freq) folded from the compacted
    postings, is what Lucene keeps for the same reason: multi-term
    rewrites and suggesters read dictionary-sized data instead of
    re-deriving it from all postings."""
    log, snap = _pin(spark, path)
    postings = _live(log, snap, log.read(snap)).distinct()
    frames = {"": postings, "_termdict": _dictionary_of(postings)}
    if snap["positions"]:
        frames["_doclens"] = _live(log, snap, log.read(snap, table="_doclens").distinct())
    log.commit(snap, frames, _scheme(snap), "tb")


def search_phrase_indexed(
    spark: SparkSession,
    path: str,
    phrase: str,
    id_col: str = "doc_id",
    buckets: int | None = None,
    slop: int = 0,
) -> DataFrame:
    """PhraseQuery from positional postings (Lucene's positions
    model): ids whose tokens contain the analyzed phrase contiguously
    and in order — or, with ``slop > 0``, in order within a window of
    ``len(phrase) + slop`` positions (Lucene ``PhraseQuery(slop=k)``
    restricted to in-order matches, i.e. ``SpanNearQuery(slop,
    inOrder=true)`` over single-term clauses; Lucene's full sloppy
    scorer also admits transpositions at cost 2 — the in-order
    reading is the replayable one and the common use).

    The pruned read touches only the phrase terms' buckets; positions
    fold to one sorted array per (id, term) — two bounded shuffles —
    and the match is a pure codegen predicate. slop=0 checks
    adjacency directly (exists p in positions[token_0] with p+i in
    positions[token_i]); slop>0 folds the greedy chain q_i =
    min(positions[token_i] > q_{i-1}) — greedy-min yields the minimal
    in-order end for each start, so "greedy end within the window"
    EQUALS "some in-order assignment within the window" (the funnel
    argument). Must agree row-for-row with the scan path's
    ``serving.query.match_phrase`` at slop=0 (the oracle
    cross-validates the two algorithms). Requires ``positions=True``
    at build time — raises otherwise. Output: (id)."""
    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    toks = _py_tokenize(phrase)
    if not toks:
        raise ValueError("empty phrase after analysis")
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    per_doc = _positions_per_doc(spark, path, sorted(set(toks)), id_col, buckets)
    if slop == 0:
        pred = F.exists(
            F.col("pm").getItem(toks[0]),
            lambda p: _all_follow(p, toks),
        )
    else:
        pred = F.exists(
            F.col("pm").getItem(toks[0]),
            lambda p: _greedy_span_within(p, toks, len(toks) - 1 + slop),
        )
    return (
        per_doc.filter(F.col("__nt") == len(set(toks)))
        .filter(pred)
        .select(id_col)
    )


def search_span_near(
    spark: SparkSession,
    path: str,
    terms: Sequence[str],
    slop: int = 0,
    id_col: str = "doc_id",
    buckets: int | None = None,
    in_order: bool = True,
) -> DataFrame:
    """Lucene ``SpanNearQuery`` over single-term clauses, answered
    from the positional postings: ids where every clause term occurs
    at DISTINCT positions inside a window of ``len(terms) + slop``
    positions — in clause order when ``in_order`` (total gap between
    consecutive matches ≤ slop), in any order otherwise.

    Ordered: the greedy chain from each candidate start (see
    ``search_phrase_indexed``) — exists p ∈ positions[t_0] whose
    greedy in-order completion ends ≤ p + (k-1) + slop. Unordered: a
    minimal covering window must start at some clause position, so
    the predicate is an OR over clauses t of exists p ∈ positions[t]
    with EVERY clause having a position in [p, p + (k-1) + slop];
    duplicate clause terms would need a distinct-position matching
    (Lucene restricts them too) and raise here. Both are pure codegen
    over per-(id, term) sorted position arrays — clause-count-bounded
    expression size, never a self-join of postings. Output: (id).

    Each clause runs through the SAME analyzer the index was built
    with (``_py_tokenize``, like ``search_phrase_indexed``) — a
    clause carrying punctuation/whitespace (``'spark,'``) would
    otherwise silently miss every posting (ADVICE r14); a clause that
    analyzes to zero or multiple tokens raises (a multi-token clause
    is a nested phrase, not a term clause)."""
    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    toks = []
    for t in terms:
        analyzed = _py_tokenize(t) if t else []
        if len(analyzed) != 1:
            raise ValueError(
                f"span_near clause {t!r} analyzes to {len(analyzed)} "
                "tokens; each clause must be a single term"
            )
        toks.append(analyzed[0])
    if len(toks) < 2:
        raise ValueError(f"span_near needs >= 2 terms, got {terms!r}")
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    if not in_order and len(set(toks)) != len(toks):
        raise ValueError(
            "unordered span_near needs distinct terms (duplicate "
            f"clauses in {terms!r}) — use in_order=True"
        )
    uniq = sorted(set(toks))
    per_doc = _positions_per_doc(spark, path, uniq, id_col, buckets)
    window = len(toks) - 1 + slop
    if in_order:
        pred = F.exists(
            F.col("pm").getItem(toks[0]),
            lambda p: _greedy_span_within(p, toks, window),
        )
    else:
        pred = F.lit(False)
        for t in uniq:
            pred = pred | F.exists(
                F.col("pm").getItem(t),
                lambda p: _all_in_window(p, uniq, window),
            )
    return (
        per_doc.filter(F.col("__nt") == len(uniq))
        .filter(pred)
        .select(id_col)
    )


def _positions_per_doc(
    spark: SparkSession,
    path: str,
    uniq: Sequence[str],
    id_col: str,
    buckets: int | None,
) -> DataFrame:
    """Shared phrase/span scaffold: pruned posting read over the
    query terms' buckets, folded to one (id, term→sorted positions
    map, present-term count) row per candidate document."""
    postings = read_postings_pruned(spark, path, list(uniq), buckets)
    if "pos" not in postings.columns:
        raise ValueError(
            f"index at {path} has no positions; build with positions=True"
        )
    per_term = postings.groupBy(id_col, "term").agg(
        F.array_sort(F.collect_set("pos")).alias("ps")
    )
    return per_term.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.col("ps")))
        ).alias("pm"),
        F.count(F.lit(1)).alias("__nt"),
    )


def _all_follow(p, toks: Sequence[str]):
    """Codegen conjunction: positions[toks[i]] contains p + i for
    every i >= 1 (p is token_0's candidate start position)."""
    cond = F.lit(True)
    for i, t in enumerate(toks[1:], start=1):
        cond = cond & F.array_contains(F.col("pm").getItem(t), p + i)
    return cond


def _greedy_span_within(p, toks: Sequence[str], window: int):
    """Codegen greedy in-order walk from start position p: q_i is the
    smallest positions[toks[i]] entry strictly after q_{i-1} (strict
    keeps repeated phrase terms on distinct positions); matches iff
    the walk completes within p + window. An empty filter step makes
    array_min NULL, the comparison NULL, and exists() skips it."""
    prev = p
    for t in toks[1:]:
        # bind prev by value — a plain closure would capture the loop
        # variable and every step would compare against the LAST prev
        prev = F.array_min(
            F.filter(
                F.col("pm").getItem(t),
                (lambda bound: (lambda q: q > bound))(prev),
            )
        )
    return prev <= p + F.lit(window)


def _all_in_window(p, uniq: Sequence[str], window: int):
    """Codegen conjunction for the unordered span: every clause term
    has a position in [p, p + window]."""
    cond = F.lit(True)
    for t in uniq:
        cond = cond & F.exists(
            F.col("pm").getItem(t),
            (lambda bound: (lambda q: (q >= bound) & (q <= bound + F.lit(window))))(p),
        )
    return cond


def bm25_indexed(
    spark: SparkSession,
    path: str,
    query: str,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    buckets: int | None = None,
) -> DataFrame:
    """BM25 answered FROM THE INDEX — the actual Lucene ranking path
    (postings give tf and df, the norms/doclens side table gives
    length normalization) — with the same formula, rounding, and
    semantics as the scan path's ``serving.query.bm25_scores``:

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))

    Plan: pruned posting read over the query terms' buckets only; tf =
    occurrence count per (doc, term); df = tf's row count per term
    (bounded, broadcast); the (N, avgdl) corpus stats are a one-row
    aggregate over the doclens table; dl joins in with the BOUNDED tf
    side broadcast, so the only corpus-sized input is the slim
    doclens scan — query cost tracks terms, not corpus text. Requires
    a positional index (positions=True writes `_doclens`); tombstoned
    docs drop out of postings, doclens, N, and avgdl alike. Output:
    (id, bm25) for matching docs only."""
    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    toks = sorted(set(_py_tokenize(query)))
    if not toks:
        raise ValueError("empty query after analysis")
    log, snap = _pin(spark, path)
    if not snap["positions"]:
        raise ValueError(
            f"index at {path} has no positions; BM25 needs per-occurrence "
            "postings — build with positions=True"
        )
    postings = _postings(log, snap, toks, buckets)
    doclens = _live(log, snap, log.read(snap, table="_doclens").distinct())
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = postings.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        doclens.join(F.broadcast(tf), id_col)
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__w", idf * norm)
    )
    return scored.groupBy(id_col).agg(F.round(F.sum("__w"), 6).alias("bm25"))


def _term_dictionary(log: SnapshotLog, snap: dict) -> DataFrame:
    """The (term, doc_freq) dictionary every multi-term rewrite
    (fuzzy, wildcard) expands against: the ``_termdict`` table
    ``compact_term_index`` persists, while it is fresh — the snapshot
    lists its files and no tombstones (an append drops it from the
    snapshot). Otherwise the dictionary is re-derived by one scan over
    the snapshot's postings (index ≪ corpus text), so answers are never
    stale."""
    if snap["files"].get("_termdict") and not snap["files"].get("_deletes"):
        return log.read(snap, table="_termdict")
    return _dictionary_of(_live(log, snap, log.read(snap)))


def _expand(
    log: SnapshotLog, snap: dict, rewrite: tuple, max_expansions: int
) -> list[str]:
    """Step 1 of a multi-term rewrite: the sorted dictionary terms
    matching ``rewrite`` = (predicate, what, fix) in the pinned
    snapshot — dictionary-sized I/O, never the corpus. Capped like
    Lucene's BooleanQuery rewrite (TooManyClauses at 1024 by default):
    raising beats silently answering with a truncated term set, which
    would drop matching documents."""
    if max_expansions < 1:
        raise ValueError(f"max_expansions must be >= 1, got {max_expansions}")
    pred, what, fix = rewrite
    got = (
        _term_dictionary(log, snap)
        .filter(pred)
        .select("term")
        .orderBy("term")
        .limit(max_expansions + 1)
        .collect()
    )
    if len(got) > max_expansions:
        raise ValueError(
            f"{what} expands to more than {max_expansions} terms (Lucene "
            f"TooManyClauses) — {fix} or raise max_expansions"
        )
    return [r["term"] for r in got]


def _wildcard(pattern: str) -> tuple:
    from platypus_ingestion_plugins_spark.serving.query import wildcard_regex

    rx = wildcard_regex(pattern)
    return F.col("term").rlike(rx), f"wildcard {pattern!r}", "tighten the pattern"


def _regexp(regex: str) -> tuple:
    from platypus_ingestion_plugins_spark.serving.query import regexp_term_regex

    rx = regexp_term_regex(regex)
    return F.col("term").rlike(rx), f"regexp {regex!r}", "tighten the pattern"


def _prefix(prefix: str) -> tuple:
    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    # analyze the prefix with the index's analyzer (the span_near
    # lesson): 'spark,' would otherwise keep its comma and silently
    # match no dictionary term; a multi-token prefix is a phrase, not
    # a prefix — both raise
    analyzed = _py_tokenize(prefix)
    if len(analyzed) != 1:
        raise ValueError(
            f"empty prefix or multi-token prefix {prefix!r} "
            f"(analyzes to {len(analyzed)} tokens)"
        )
    return F.col("term").startswith(analyzed[0]), f"prefix {prefix!r}", "lengthen the prefix"


def _search_expanded(
    spark: SparkSession, path: str, rewrite: tuple, max_expansions: int,
    id_col: str, buckets: int | None,
) -> DataFrame:
    """Expansion then one pruned OR posting read, both from one pinned
    snapshot."""
    log, snap = _pin(spark, path)
    terms = _expand(log, snap, rewrite, max_expansions)
    return _search_terms(log, snap, terms, id_col, False, buckets)


def expand_wildcard(
    spark: SparkSession,
    path: str,
    pattern: str,
    max_expansions: int = 1024,
) -> list[str]:
    """Lucene WildcardQuery rewrite, step 1: expand the pattern
    against the term DICTIONARY (``*`` = any run, ``?`` = one char,
    pattern lowercased to the analyzer's terms) into a concrete term
    list — dictionary-sized I/O, never the corpus, TooManyClauses-
    capped. Returns the sorted matched terms."""
    return _expand(*_pin(spark, path), _wildcard(pattern), max_expansions)


def search_wildcard_indexed(
    spark: SparkSession,
    path: str,
    pattern: str,
    id_col: str = "doc_id",
    max_expansions: int = 1024,
    buckets: int | None = None,
) -> DataFrame:
    """WildcardQuery answered from the index: dictionary expansion
    (``expand_wildcard``) then one pruned posting read over the
    matched terms (``search_terms_indexed`` OR semantics — n_matched
    is the count of distinct matching terms per document). Query I/O =
    dictionary + the matched terms' buckets; the corpus text is never
    touched. Scan-path twin: ``query.match_wildcard``."""
    return _search_expanded(spark, path, _wildcard(pattern), max_expansions, id_col, buckets)


def expand_regexp(
    spark: SparkSession,
    path: str,
    regex: str,
    max_expansions: int = 1024,
) -> list[str]:
    """Lucene ``RegexpQuery`` rewrite, step 1 (NEW r15, VERDICT r14
    task #8): match the anchored whole-term regexp against the term
    DICTIONARY — dictionary-sized I/O — into a concrete term list,
    capped by the same TooManyClauses rule as ``expand_wildcard``
    (raising beats a silently truncated answer). Returns the sorted
    matched terms."""
    return _expand(*_pin(spark, path), _regexp(regex), max_expansions)


def search_regexp_indexed(
    spark: SparkSession,
    path: str,
    regex: str,
    id_col: str = "doc_id",
    max_expansions: int = 1024,
    buckets: int | None = None,
) -> DataFrame:
    """RegexpQuery answered from the index: dictionary expansion
    (``expand_regexp``) then one pruned posting read over the matched
    terms (``search_terms_indexed`` OR semantics — n_matched counts
    distinct matching terms per document). Query I/O = dictionary +
    the matched terms' buckets; the corpus text is never touched.
    Scan-path twin: ``query.match_regexp``. A regexp matching zero
    dictionary terms returns an empty frame (Lucene: no clause, no
    hit)."""
    return _search_expanded(spark, path, _regexp(regex), max_expansions, id_col, buckets)


def expand_prefix(
    spark: SparkSession,
    path: str,
    prefix: str,
    max_expansions: int = 1024,
) -> list[str]:
    """Lucene ``PrefixQuery`` rewrite, step 1 (NEW r15): match the
    lowercased prefix against the term dictionary with a
    ``startswith`` range predicate (a sorted dictionary answers this
    with a seek, a columnar one with min/max skipping — either way
    dictionary-sized I/O), TooManyClauses-capped like wildcard/regexp.
    Returns the sorted matched terms; an empty or non-analyzable
    prefix raises (a PrefixQuery for '' is a disguised match-all)."""
    return _expand(*_pin(spark, path), _prefix(prefix), max_expansions)


def search_prefix_indexed(
    spark: SparkSession,
    path: str,
    prefix: str,
    id_col: str = "doc_id",
    max_expansions: int = 1024,
    buckets: int | None = None,
) -> DataFrame:
    """PrefixQuery answered from the index (NEW r15): dictionary range
    expansion (``expand_prefix``) then one pruned posting read over
    the matched terms (``search_terms_indexed`` OR semantics —
    n_matched counts distinct matching terms per doc). Scan-path
    twin: ``query.match_prefix``."""
    return _search_expanded(spark, path, _prefix(prefix), max_expansions, id_col, buckets)


def term_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """CheckIndex-style health report, one row: (buckets, positional,
    n_terms, n_postings, n_docs, n_deleted). The operational questions
    it answers before anyone queries: how big is the dictionary, how
    many reader-visible postings (DISTINCT, the readers' semantics —
    replayed idempotent appends don't inflate the count), how many
    live documents, how many tombstones are waiting for compaction
    (the compact-now signal).

    One postings scan + the slim side tables; n_postings counts what
    a reader sees — (id, term) for a flat index, (id, term, pos) for
    a positional one. n_docs counts the ``_doclens`` table on a
    positional index (it also counts zero-token docs) and distinct
    posting ids on a flat one."""
    log, snap = _pin(spark, path)
    positional = snap["positions"]
    live = _live(log, snap, log.read(snap))
    doc_col = _doc_col(live)
    cols = [doc_col, "term"] + (["pos"] if positional else [])
    postings = live.select(*cols).distinct()
    agg = postings.agg(
        F.count_distinct("term").cast("long").alias("n_terms"),
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.count_distinct(doc_col).cast("long").alias("_pdocs"),
    )
    if positional:
        n_docs = (
            _live(log, snap, log.read(snap, table="_doclens"))
            .select(doc_col)
            .distinct()
            .count()
        )
        agg = agg.withColumn("n_docs", F.lit(int(n_docs)).cast("long"))
    else:
        agg = agg.withColumn("n_docs", F.col("_pdocs"))
    n_deleted = (
        log.read(snap, table="_deletes").distinct().count()
        if snap["files"].get("_deletes")
        else 0
    )
    return agg.select(
        F.lit(snap["buckets"]).cast("int").alias("buckets"),
        F.lit(positional).alias("positional"),
        "n_terms",
        "n_postings",
        "n_docs",
        F.lit(int(n_deleted)).cast("long").alias("n_deleted"),
    )


def search_bool_indexed(
    spark: SparkSession,
    path: str,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    minimum_should_match: int | None = None,
    id_col: str = "doc_id",
    buckets: int | None = None,
) -> DataFrame:
    """BooleanQuery answered FROM THE INDEX: term-level must/should/
    must_not composed in ONE pruned posting read + ONE aggregation.
    All three clause lists' terms read together (their buckets'
    union), then per document a single groupBy computes the distinct
    must-count, should-count, and a must_not flag — a doc qualifies
    iff it carries every must term, at least ``minimum_should_match``
    should terms (Lucene's default: 1 when shoulds are the only
    positive clauses, else 0), and no must_not term.

    Parity scope vs the scan path's ``query.bool_query``: clauses
    here are TERMS (what postings can answer), not arbitrary Column
    predicates; a must_not term is absence-from-postings, which
    equals the scan path's NULL-keeping semantics (a NULL-field doc
    has no postings, so it never matches the inner clause and
    survives the negation). Lucene's pure-negative restriction
    applies: at least one positive clause is required — an
    index CANNOT enumerate match-all-minus (that's a corpus scan by
    definition), so it raises rather than silently scanning.

    Output: (id, should_matched int) — the should coordination count
    (0 when no shoulds), the rank signal bool_query exposes through
    its sum-of-casts."""
    must = sorted({t.lower() for t in must if t})
    should = sorted({t.lower() for t in should if t})
    must_not = sorted({t.lower() for t in must_not if t})
    if not must and not should:
        raise ValueError(
            "search_bool_indexed needs a positive clause (must or "
            "should): a pure must_not query is match-all-minus, which "
            "an inverted index cannot enumerate — use the scan path"
        )
    if minimum_should_match is None:
        minimum_should_match = 1 if (should and not must) else 0
    if minimum_should_match < 0:
        # a negative msm would silently degrade to "no should required",
        # unlike every other argument check here — fail loudly instead
        raise ValueError(
            f"minimum_should_match must be >= 0, got {minimum_should_match}"
        )
    if minimum_should_match > len(should):
        raise ValueError(
            f"minimum_should_match={minimum_should_match} exceeds the "
            f"{len(should)} should clauses"
        )
    all_terms = sorted({*must, *should, *must_not})
    postings = read_postings_pruned(spark, path, all_terms, buckets).select(
        id_col, "term"
    ).distinct()
    agged = postings.groupBy(id_col).agg(
        F.count_distinct(
            F.when(F.col("term").isin(must), F.col("term"))
        ).alias("_must"),
        F.count_distinct(
            F.when(F.col("term").isin(should), F.col("term"))
        ).cast("int").alias("should_matched"),
        F.max(
            F.when(F.col("term").isin(must_not), F.lit(1)).otherwise(0)
        ).alias("_neg"),
    )
    out = agged.filter(
        (F.col("_must") == F.lit(len(must)))
        & (F.col("should_matched") >= F.lit(minimum_should_match))
        & (F.col("_neg") == F.lit(0))
    )
    return out.select(id_col, "should_matched")


def more_like_this_indexed(
    spark: SparkSession,
    path: str,
    like_text: str,
    id_col: str = "doc_id",
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    top: int = 10,
    buckets: int | None = None,
) -> DataFrame:
    """Lucene MoreLikeThis in ``like_text`` mode, answered FROM THE
    INDEX: the probe text is analyzed locally (its term frequencies
    are query-sized — Lucene's MLT.like(text) path, which needs no
    forward/term-vector store), document frequencies and candidate
    documents come from ONE pruned posting read over the probe's
    terms' buckets, and N comes from the slim ``_doclens`` table —
    corpus text is never touched.

    Selection and ranking mirror the scan path
    (``serving.query.more_like_this``): weight = qtf·ln((N+1)/(df+1)),
    (weight desc, term) cut at ``max_query_terms``, candidates score
    Σ weight over DISTINCT matched terms, 6dp-rounded, (score desc,
    id) cut at ``top``. Requires a positional index (the
    ``bm25_indexed`` contract — ``positions=True`` writes
    ``_doclens``); tombstoned docs drop out of candidates, df, and N
    alike."""
    from collections import Counter

    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    if max_query_terms < 1 or top < 1:
        raise ValueError(
            f"need max_query_terms >= 1 and top >= 1, got "
            f"{max_query_terms}/{top}"
        )
    qtf = Counter(_py_tokenize(like_text))
    cand = sorted(t for t, c in qtf.items() if c >= min_term_freq)
    if not cand:
        raise ValueError(
            "like_text has no analyzed terms at min_term_freq "
            f"{min_term_freq}"
        )
    log, snap = _pin(spark, path)
    if not snap["positions"]:
        raise ValueError(
            f"no _doclens table at {path}; more_like_this_indexed needs "
            "a positional index (positions=True)"
        )
    n_docs = (
        _live(log, snap, log.read(snap, table="_doclens"))
        .select(id_col)
        .distinct()
        .count()
    )
    matches = _postings(log, snap, cand, buckets).select(
        id_col, "term"
    ).distinct()
    dfc = matches.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    qtf_frame = spark.createDataFrame(
        [(t, int(qtf[t])) for t in cand], "term string, qtf long"
    )
    sel = (
        dfc.join(F.broadcast(qtf_frame), "term")
        .filter(F.col("df") >= F.lit(min_doc_freq))
        .select(
            "term",
            (
                F.col("qtf")
                * F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)))
            ).alias("weight"),
        )
        .orderBy(F.desc("weight"), F.col("term"))
        .limit(max_query_terms)
    )
    return (
        matches.join(F.broadcast(sel), "term")
        .groupBy(id_col)
        .agg(F.round(F.sum("weight"), 6).alias("mlt_score"))
        .orderBy(F.desc("mlt_score"), F.col(id_col))
        .limit(top)
    )


def suggest_terms(
    spark: SparkSession,
    path: str,
    query_term: str,
    max_dist: int = 2,
    top: int = 10,
    buckets: int | None = None,
) -> DataFrame:
    """FuzzyQuery parity (Lucene's fuzzy term matching): index terms
    within ``max_dist`` edits of the (lowercased) query term, ranked
    by (distance asc, doc-frequency desc, term asc) — a total order,
    so the top-``top`` cut is deterministic. The candidate set is the
    term DICTIONARY, never the corpus text: ``compact_term_index``
    persists a ``_termdict`` table (Lucene keeps one for the same
    reason), and suggest reads THAT — dictionary-sized I/O — while the
    pinned snapshot lists it and no tombstones; after a post-compaction
    append (whose snapshot drops it) or ``delete_docs`` the dictionary
    is re-derived by one scan over the postings (index ≪ corpus text)
    so answers are never stale. ``levenshtein`` is a JVM codegen
    builtin on both engines.
    doc_freq counts distinct posting rows, so re-appended idempotent
    batches don't inflate it. Output: (term, doc_freq, dist)."""
    if max_dist < 0 or top < 1:
        raise ValueError(f"need max_dist >= 0 and top >= 1, got {max_dist}/{top}")
    dictionary = _term_dictionary(*_pin(spark, path))
    q = query_term.lower()
    return (
        dictionary.withColumn(
            "dist", F.levenshtein(F.col("term"), F.lit(q)).cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy(F.col("dist"), F.col("doc_freq").desc(), F.col("term"))
        .limit(top)
    )


def did_you_mean(
    spark: SparkSession,
    path: str,
    query: str,
    max_dist: int = 2,
) -> DataFrame:
    """Phrase-level "did you mean" suggester (the Elasticsearch
    phrase/term suggester over the whole query, NEW r15): every
    analyzed query term gets its best dictionary correction by
    (edit distance asc, doc_freq desc, term asc) — a term that exists
    in the dictionary wins at distance 0 automatically, so frequent
    correctly-spelled terms pass through unchanged and only
    out-of-vocabulary terms move. Output one row per query position:
    (pos, term, suggestion, dist, doc_freq), suggestion NULL when no
    dictionary term is within ``max_dist`` edits.

    Plan shape: ONE dictionary scan — the query frame (term-count
    bounded) broadcasts against the term dictionary, levenshtein is
    JVM codegen, and the per-position winner is a row_number over a
    position-partitioned (bounded-cardinality) window. Complements
    the single-term ``suggest_fuzzy_terms``."""
    from platypus_ingestion_plugins_spark.serving.query import _py_tokenize

    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    toks = _py_tokenize(query)
    if not toks:
        raise ValueError("empty query after analysis")
    from pyspark.sql.window import Window

    qf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "pos int, qterm string"
    )
    dic = _term_dictionary(*_pin(spark, path))
    cand = (
        dic.crossJoin(F.broadcast(qf))
        .withColumn(
            "dist", F.levenshtein(F.col("term"), F.col("qterm")).cast("int")
        )
        .filter(F.col("dist") <= F.lit(max_dist))
    )
    w = Window.partitionBy("pos").orderBy(
        F.col("dist").asc(), F.col("doc_freq").desc(), F.col("term").asc()
    )
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "pos",
            F.col("term").alias("suggestion"),
            "dist",
            "doc_freq",
        )
    )
    return (
        qf.join(best, "pos", "left")
        .select(
            "pos", F.col("qterm").alias("term"), "suggestion", "dist",
            "doc_freq",
        )
        .orderBy("pos")
    )


def search_terms_indexed(
    spark: SparkSession,
    path: str,
    terms: Sequence[str],
    id_col: str = "doc_id",
    require_all: bool = False,
    buckets: int | None = None,
) -> DataFrame:
    """Indexed term search: ids matching ANY (OR — ``match_text``
    semantics) or ALL (AND) of the analyzed terms, plus ``n_matched``
    (the coordination count ``match_score`` computes scan-side). One
    pruned posting read + one ids-only groupBy — I/O tracks the query
    terms' buckets, never the corpus. Results are engine-checkable:
    same analyzer as the scan path, so
    ``search_terms_indexed(ANY) == df.filter(match_text(...))`` ids."""
    return _search_terms(*_pin(spark, path), terms, id_col, require_all, buckets)


def _search_terms(
    log: SnapshotLog, snap: dict, terms: Sequence[str], id_col: str,
    require_all: bool, buckets: int | None,
) -> DataFrame:
    """``search_terms_indexed`` over a pinned snapshot."""
    norm = sorted({t.lower() for t in terms if t})
    postings = _postings(log, snap, norm, buckets)
    agged = postings.groupBy(F.col(id_col)).agg(
        F.countDistinct("term").cast("int").alias("n_matched")
    )
    if require_all:
        agged = agged.filter(F.col("n_matched") == len(norm))
    return agged
