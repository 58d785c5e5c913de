"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point at 100 TB):
- exact dedup is a single hash-shuffle groupBy on the content hash;
- near-dup never goes O(n^2): candidate pairs come from shared
  shingles (inverted-index join) or LSH band buckets, then only
  candidates are verified with the true Jaccard;
- all hashing uses md5 (available in every SQL engine) so results are
  engine-independent and oracle-checkable — no Spark-specific
  murmur3.

All operators are pure DataFrame compositions — no UDFs, no collect.

Staging rule: a frame that a plan reads more than once (a self-join's
two sides, signatures plus verification) is staged where it is built,
with one eager ``localCheckpoint``. AQE's runtime broadcast conversion
defeats exchange reuse, so an unstaged frame re-runs its map stage
once per reference. Building such an operator's DataFrame therefore
runs the staging job; nothing is left to run inside a later action.
The blocks are spillable and freed once the caller drops the frame
and the context cleaner runs. The trade: staged blocks have no
lineage, so losing an executor fails the job instead of recomputing.
On a fault-prone cluster, reliable-checkpoint the input first
(``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark.functions.text import tokens
from platypus_ingestion_plugins_spark.session import ensure_parallelism
from platypus_ingestion_plugins_spark.snapshots import SnapshotLog


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Collapse exact duplicates: one surviving row (min id) per
    distinct text, with the duplicate count. One shuffle on the text
    hash; at scale group on sha2(text) rather than the raw text so
    shuffle keys are fixed-width."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("content_sha")
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    normalize: bool = True,
    by: str | None = None,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style line-level deduplication: drop every LINE that
    occurs (after optional lowercase+trim normalization) in >=
    ``min_df`` distinct documents — the standard boilerplate scrub
    (cookie banners, nav menus, share buttons) that document-level
    dedup cannot touch because the surrounding text differs.

    Shape at scale: explode to (id, line_no, line), one groupBy on the
    fixed-width line hash counting DISTINCT documents, then an anti
    join of the line frame against the hot set and a per-document
    reassembly groupBy ordered by line_no. Two aggregations + one
    join, all partial-aggregatable; the hot-line set is tiny (it IS
    the boilerplate) so the anti join broadcasts under AQE. Empty
    lines are kept verbatim (they carry document structure and are
    trivially "duplicated" — counting them would blank every
    paragraph break).

    Output: (id, text-with-dropped-lines, n_lines, n_dropped). A
    document whose every line is boilerplate survives with empty
    text, preserving row count for downstream joins; NULL text is
    coalesced to the empty string for the same reason (a bare explode
    of a null split would silently delete the row).

    ``by`` scopes the doc-frequency count to a group column (e.g. the
    source domain): boilerplate is domain-local — a nav menu hot on
    one site must not scrub an identical line that appears once on
    another — so production scrubs (CCNet groups by web snapshot
    shard; RefinedWeb by domain) count df WITHIN the group. Same plan
    shape, the count/join key just widens to (by, line_key); groups
    are independent, so the hot set stays boilerplate-sized per group.
    NULL group values form their own group (missing-domain web docs
    are each other's dedup scope, not exempt): the hot join matches
    the group column NULL-SAFELY — a plain equality would never match
    the NULL group's hot rows and silently skip scrubbing exactly the
    dirtiest slice of a crawl (r11 review #3). groupBy already counts
    NULL as one group, so both sides agree.

    ``sep`` sets the dedup UNIT: the default "\\n" scrubs lines;
    ``sep="\\n\\n"`` scrubs PARAGRAPHS (RefinedWeb §3.2's exact
    paragraph dedup) — same plan, the explode/reassemble delimiter
    just widens.
    """
    group_keys = ["line_key"] if by is None else [by, "line_key"]
    lines = _doc_lines(
        df, text_col, id_col, normalize,
        extra=() if by is None else (by,), sep=sep,
    )
    hot = (
        lines.filter(~F.col("__blank"))
        .groupBy(*group_keys)
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select(*group_keys)
        .withColumn("__hot", F.lit(True))
    )
    if by is None:
        kept = lines.join(hot, group_keys, "left")
    else:
        # renamed right-side keys: hot shares lines' lineage, so
        # lines[by] == hot[by] is ambiguous self-join column
        # resolution; fresh names make the condition unambiguous
        hot = hot.select(
            F.col("line_key").alias("__h_key"),
            F.col(by).alias("__h_by"),
            "__hot",
        )
        cond = (F.col("line_key") == F.col("__h_key")) & F.col(
            by
        ).eqNullSafe(F.col("__h_by"))
        kept = lines.join(hot, cond, "left").drop("__h_key", "__h_by")
    kept = kept.withColumn(
        "__drop", F.coalesce("__hot", F.lit(False)) & ~F.col("__blank")
    )
    return _reassemble_lines(kept, text_col, id_col, sep=sep)


def _doc_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool,
    extra: tuple[str, ...] = (),
    sep: str = "\n",
) -> DataFrame:
    """Explode documents to (id, *extra, line_no, line, line_key,
    __blank) — the shared front half of batch and incremental line
    dedup (``extra`` carries group columns for scoped df counts;
    ``sep`` sets the unit — "\\n" for lines, "\\n\\n" for paragraphs).
    NULL text coalesces to '' so the explode cannot delete the row."""
    import re as _re

    key = F.trim(F.lower(F.col("line"))) if normalize else F.col("line")
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.posexplode(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep)
            )
        ).alias("line_no", "line"),
    ).withColumn("line_key", F.sha2(key, 256)).withColumn(
        "__blank", F.trim(F.col("line")) == ""
    )


def _reassemble_lines(
    kept: DataFrame, text_col: str, id_col: str, sep: str = "\n"
) -> DataFrame:
    """Per-document reassembly of surviving lines in original order —
    the shared back half of batch and incremental line dedup. Expects
    (id, line_no, line, __drop). Output:
    (id, text, n_lines, n_dropped)."""
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__drop"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("__drop").cast("int")).alias("n_dropped"),
        )
    )


def line_dedup_incremental(
    batch: DataFrame,
    earlier_counts: DataFrame | None,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    normalize: bool = True,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-micro-batch line-level boilerplate suppression against an
    accumulated line-frequency index: a document DROPS a line iff at
    least ``min_df - 1`` smaller-id documents (earlier batches plus
    smaller ids within this batch) contain it — so the line's FIRST
    document keeps it and every later one scrubs it, the
    survivor-keeps analogue of ``neardup_survivors_incremental``'s
    any-earlier-doc rule. (The batch ``line_dedup`` drops a hot line
    from EVERY document including the first; a streaming operator
    cannot retract already-emitted output, so first-keeps is the
    batch-split-independent form.)

    Contract (same as the near-dup index): batches arrive in id order
    — every earlier-batch document has a smaller id than every
    document in this batch (seq-ordered replay / monotone ingest id).
    Under it, unioning per-batch outputs equals the one-shot
    first-keeps computation exactly, which is what the oracle checks.

    ``earlier_counts`` is (line_key, n) from the accumulated index,
    ideally partition-pruned to this batch's key buckets
    (``read_line_counts_pruned``); None for the first batch. Pass the
    batch's persisted ``line_key_pairs`` as ``pairs`` to avoid a
    second explode+distinct (the canonical foreachBatch computes the
    pair set once for prune/rank/append). Per-batch work: one rank
    window over the batch's (key, doc) pairs and one join against the
    pruned counts — never a join against every earlier document. Keys
    whose earlier count already reaches ``min_df`` skip the window
    entirely: every batch doc drops them unconditionally, so the
    hottest boilerplate keys (the operator's whole target) never
    funnel a universal line into a single rank task. Output:
    (id, text, n_lines, n_dropped), batch documents only."""
    from pyspark.sql import Window

    lines = _doc_lines(batch, text_col, id_col, normalize)
    kd = (
        line_key_pairs(batch, text_col, id_col, normalize)
        if pairs is None
        else pairs
    )
    if earlier_counts is not None:
        kd = kd.join(
            earlier_counts.select(
                "line_key", F.col("n").alias("__n_earlier")
            ),
            "line_key",
            "left",
        ).withColumn("__n_earlier", F.coalesce("__n_earlier", F.lit(0)))
    else:
        kd = kd.withColumn("__n_earlier", F.lit(0))
    saturated = kd.filter(F.col("__n_earlier") >= F.lit(min_df))
    w = Window.partitionBy("line_key").orderBy(F.col(id_col).asc())
    ranked = (
        kd.filter(F.col("__n_earlier") < F.lit(min_df))
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__n_earlier") + F.col("__rank") >= F.lit(min_df))
    )
    dropped = (
        saturated.select("line_key", F.col(id_col))
        .unionByName(ranked.select("line_key", F.col(id_col)))
        .withColumn("__hot", F.lit(True))
    )
    kept = lines.join(dropped, ["line_key", id_col], "left").withColumn(
        "__drop", F.coalesce("__hot", F.lit(False)) & ~F.col("__blank")
    )
    return _reassemble_lines(kept, text_col, id_col)


def line_key_pairs(
    batch: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """The batch's distinct non-blank (line_key, id) pair set — the
    one frame the whole per-batch flow derives from (rank, counts,
    bucket pruning); persist it in a foreachBatch so the explode and
    distinct run once."""
    return (
        _doc_lines(batch, text_col, id_col, normalize)
        .filter(~F.col("__blank"))
        .select("line_key", id_col)
        .distinct()
    )


def line_count_keys(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool = True,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-batch (line_key, n) distinct-document counts — the rows
    ``append_line_count_index`` accumulates. Pass a persisted
    ``line_key_pairs`` frame to reuse the batch's single explode."""
    kd = (
        line_key_pairs(batch, text_col, id_col, normalize)
        if pairs is None
        else pairs
    )
    return kd.groupBy("line_key").agg(F.count(F.lit(1)).alias("n"))


def _line_kb(key_buckets: int) -> Column:
    """Partition bucket of a line_key (md5-free: the key is already a
    sha2 hex string — bucket on its leading 60 bits)."""
    return F.pmod(
        F.conv(F.substring("line_key", 1, 15), 16, 10).cast("long"),
        F.lit(key_buckets),
    )


def _line_index(spark, path: str) -> SnapshotLog:
    # "__old"/"__staging": where the older rename-swap compaction
    # parked and staged the index
    return SnapshotLog(spark, path, leftovers=("__old", "__staging"))


def _collapse_epochs(idx: DataFrame) -> DataFrame:
    """Epoch-pin replay collapse: a re-appended micro-batch wrote
    identical (line_key, n, batch_id) rows — keep one per epoch.
    Untagged rows ("__unbatched", or a compaction's folded output) have
    no epoch identity and pass through unchanged."""
    return (
        idx.filter(F.col("batch_id") != "__unbatched")
        .dropDuplicates(["line_key", "batch_id"])
        .unionByName(idx.filter(F.col("batch_id") == "__unbatched"))
    )


def line_count_index_exists(spark, path: str) -> bool:
    """Whether the line-count index at ``path`` holds data: its newest
    snapshot lists a file. Writes nothing. A leftover ``__old`` or
    ``__staging`` of the older rename-swap compaction beside an index
    with no snapshot raises instead of reading as absent, so a caller
    branching on existence cannot shadow the only copy of the counts
    with a fresh index."""
    snap = _line_index(spark, path).latest()
    return snap is not None and bool(snap["files"])


def append_line_count_index(
    counts: DataFrame, path: str, key_buckets: int = 64,
    batch_id: int | str | None = None,
) -> None:
    """Append per-batch line counts to a parquet index PARTITIONED by
    kb = hash(line_key) % key_buckets — the band-key-index layout
    applied to line frequencies, so each micro-batch reads only the
    bucket directories its own keys hash into. Each append is one
    snapshot commit (platypus_ingestion_plugins_spark.snapshots): the
    new files become visible together or not at all. ``key_buckets``
    is pinned in the snapshot's metadata; an append with another value
    raises (mixed bucket schemes would prune away genuine matches).

    Replay safety: counts are NOT idempotent the way band keys are —
    foreachBatch is at-least-once, and a replayed append would
    double-count every key. Pass the micro-batch's epoch as
    ``batch_id`` (the sketch indexes' epoch-pin pattern): rows carry
    it, and readers collapse duplicate (line_key, batch_id) appends
    before summing, making replays exact. Compaction folds epochs
    away, so run it only after a trigger's checkpoint has committed
    (no earlier epoch can replay), or pass the in-flight epoch as
    ``exclude_batch_id``."""
    log = _line_index(counts.sparkSession, path)
    snap = log.latest()
    if snap is not None and snap["key_buckets"] != key_buckets:
        raise ValueError(
            f"index at {path} was written with key_buckets={snap['key_buckets']}, "
            f"append requested {key_buckets}"
        )
    out = counts.withColumn(
        "batch_id",
        F.lit("__unbatched" if batch_id is None else str(batch_id)),
    ).withColumn("kb", _line_kb(key_buckets))
    log.commit(snap, out.repartition("kb"), {"key_buckets": key_buckets}, ("kb",), [])


def compact_line_count_index(
    spark, path: str, max_files_per_bucket: int = 4,
    exclude_batch_id: str | None = None,
) -> bool:
    """Re-aggregate a fragmented line-count index (every append adds
    one file per touched kb= directory) down to one summed file per
    bucket, when some kb= directory of the newest snapshot holds more
    than ``max_files_per_bucket`` files. The rewrite is ONE snapshot
    commit that replaces every file of the index: readers see the old
    files or the new ones, never both, so the non-idempotent counts
    cannot double. A crash before the publish leaves the old snapshot
    in force, and the next commit deletes the unpublished files.
    Returns True when a rewrite happened.

    ``exclude_batch_id``: rows tagged with that epoch pass through the
    rewrite UN-folded (still tagged). Required when compacting while
    that epoch is in flight (a foreachBatch handler compacting before
    its own append): folding a not-yet-committed epoch into the
    untagged aggregate would defeat the reader's (line_key, batch_id)
    replay collapse and double-count on replay."""
    log = _line_index(spark, path)
    snap = log.latest()
    if snap is None or all(len(f) <= max_files_per_bucket for f in snap["files"].values()):
        return False
    src = log.read(snap)
    in_flight = None
    if exclude_batch_id is not None:
        # the in-flight epoch rides along tagged and un-summed; a
        # crashed first attempt's duplicate rows still collapse at
        # read time on (line_key, batch_id)
        in_flight = src.filter(F.col("batch_id") == exclude_batch_id)
        src = src.filter(F.col("batch_id") != exclude_batch_id)
    # same epoch collapse as the pruned read, so a replayed append
    # present twice folds to one before the sums
    folded = (
        _collapse_epochs(src)
        .groupBy("kb", "line_key")
        .agg(F.sum("n").alias("n"))
        .withColumn("batch_id", F.lit("__unbatched"))
    )
    if in_flight is not None:
        folded = folded.unionByName(in_flight.select("kb", "line_key", "n", "batch_id"))
    meta = {"key_buckets": snap["key_buckets"]}
    log.commit(snap, folded.repartition("kb"), meta, ("kb",))
    return True


def read_line_counts_pruned(
    spark, path: str, batch_keys: DataFrame, key_buckets: int | None = None,
    exclude_batch_id: int | str | None = None,
) -> DataFrame:
    """Partition-pruned accumulated (line_key, n) totals: only the
    kb= files of the newest snapshot that the batch's own keys hash
    into are scanned, named from the snapshot (no directory listing;
    writes nothing). The driver-side collect is the batch's DISTINCT
    kb set — bounded by ``key_buckets``, never by batch or corpus
    size. ``key_buckets`` defaults to the index's pinned value; a
    different one raises. An index never committed reads as empty.

    ``exclude_batch_id`` — REQUIRED for exactly-once semantics when
    the caller is a foreachBatch handler reading "counts so far"
    before appending its own epoch (code-review r10 #4): if the
    previous attempt of THIS epoch crashed after its append, the
    replay would otherwise read its own rows back as "earlier" state
    and double-count the in-flight batch (over-suppressing lines one
    batch early, so replayed output diverges from the first
    attempt's). Pass the epoch id; rows tagged with it are excluded
    from the totals."""
    log = _line_index(spark, path)
    snap = log.latest()
    if snap is None:
        return spark.createDataFrame([], "line_key string, n bigint")
    pinned = snap["key_buckets"]
    if key_buckets is not None and pinned != key_buckets:
        raise ValueError(
            f"index at {path} was written with key_buckets={pinned}, "
            f"read requested {key_buckets}"
        )
    kbs = batch_keys.select(_line_kb(pinned).alias("kb")).distinct().collect()
    idx = log.read(snap, [f"kb={r['kb']}" for r in kbs])
    if exclude_batch_id is not None:
        # in-flight epoch exclusion: a crashed prior attempt of this
        # very epoch may have appended already — its rows are not
        # "earlier" state
        idx = idx.filter(F.col("batch_id") != str(exclude_batch_id))
    return _collapse_epochs(idx).groupBy("line_key").agg(F.sum("n").alias("n"))


def _gram_array(text_col: str, n: int) -> Column:
    """The distinct non-empty word-n-gram array of a text column —
    the single shared map-stage expression behind ``shingles`` and
    ``ngram_jaccard_pairs`` (one definition, no drift).

    Built as arrays_zip of n shifted slices of the token array, then
    one transform joining each zipped struct — the token array is
    evaluated once per row. (The obvious `transform(sequence, i ->
    array_join(slice(toks, i, n)))` has Catalyst inline the tokenize
    expression into the lambda, re-running split+filter per gram
    position — O(tokens^2) work per document and ~4x slower on the
    document corpus; same trap as winnow_fingerprints.) concat_ws
    skips the nulls arrays_zip pads short slices with, so documents
    shorter than n tokens still produce their full text as one
    shingle — byte-identical output to the index-sequence form."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - n + 1, F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.filter(F.array_distinct(grams), lambda x: x != "")


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).
    See ``_gram_array`` for the map-stage expression design.

    PRECONDITION: ``id_col`` is unique per row. The whole dedup family
    treats ids as document identities; a frame carrying the same id on
    two rows would double every count-based consumer (Jaccard sizes,
    shingle document frequencies, minhash group sizes) — run
    ``df.dropDuplicates([id_col])`` (or exact_dedup) first. This used
    to be masked by a global ``.distinct()`` here, at the price of a
    full shuffle of the corpus's largest intermediate on EVERY call;
    the contract is now explicit instead of silently absorbed."""
    # tokenize+gram is the CPU-heavy map stage: spread a
    # few-split source across cores first (no-op on real multi-split inputs)
    df = ensure_parallelism(df)
    # (id, shingle) is unique BY CONSTRUCTION — array_distinct dedupes
    # within the document and ids differ across documents — so no
    # global .distinct() here: that would be a full shuffle of the
    # shingle set (the largest intermediate in every jaccard-family
    # plan) re-establishing an invariant the map stage already holds
    return df.select(
        F.col(id_col), F.explode(_gram_array(text_col, n)).alias("shingle")
    )


def cap_shingle_df(sh: DataFrame, max_df: int | None, key_col: str = "shingle") -> DataFrame:
    """Drop blocking keys occurring in more than ``max_df`` documents.

    The hot-key guard for corpus scale: a key shared by k docs
    contributes k^2 rows to the inverted-index self-join, so one
    boilerplate phrase shared by 10^6 docs is 10^12 pairs. Capping df
    bounds per-key fan-out at max_df^2. The hot set is tiny by
    construction, so the anti-join broadcasts. ``None`` disables
    (exact semantics, oracle-comparable). ``key_col`` names the
    blocking-key column (shingles here, winnow fingerprints in
    winnow_overlap_pairs — one cap, not three copies)."""
    if not max_df:
        return sh
    hot = (
        sh.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select(key_col)
    )
    return sh.join(F.broadcast(hot), key_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by true n-gram Jaccard similarity.

    Inverted-index self-join: only document pairs sharing >=1 shingle
    are ever materialized (candidate generation), then
    |A∩B| / (|A|+|B|-|A∩B|) filters to >= threshold. Integer counts ->
    exact arithmetic -> engine-independent results.

    ``max_shingle_df`` caps shingle document frequency before the
    self-join (see cap_shingle_df); when set, Jaccard is computed over
    the capped shingle sets.

    The Jaccard denominator |doc's shingle set| is computed MAP-SIDE
    (size of the per-row distinct-gram array, before the explode) —
    zero extra shuffles. Only the capped path (``max_shingle_df``)
    still needs a post-cap count, because capping changes the sets the
    denominator is defined over; there it is one id-partition window
    over the already-capped rows.

    The uncapped sized-shingle frame is staged (module docstring): the
    self-join reads it twice. At corpus scale prefer the
    ``max_shingle_df`` path, which bounds the join and skips the
    staging.
    """
    if max_shingle_df is None:
        df = ensure_parallelism(df)
        sized = (
            df.select(F.col(id_col), _gram_array(text_col, n).alias("__sh_arr"))
            .withColumn("n_sh", F.size("__sh_arr"))
            .select(F.col(id_col), F.explode("__sh_arr").alias("shingle"), "n_sh")
            .localCheckpoint(eager=True)
        )
    else:
        from pyspark.sql import Window

        sh = cap_shingle_df(shingles(df, text_col, id_col, n), max_shingle_df)
        sized = sh.withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        )
    a = sized.select(F.col(id_col).alias("id_a"), "shingle", F.col("n_sh").alias("n_a"))
    b = sized.select(F.col(id_col).alias("id_b"), "shingle", F.col("n_sh").alias("n_b"))
    out = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def jaccard_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Cross-corpus similarity join: pairs (one row from ``left``, one
    from ``right``) with n-gram Jaccard >= threshold — the fuzzy-match
    primitive for entity resolution and cross-source dedup (match a
    new crawl against the existing corpus, a vendor drop against the
    training set).

    Same inverted-index shape as ngram_jaccard_pairs but two-sided:
    only pairs sharing >=1 shingle materialize; candidate volume is
    sum over shingles of |left bucket| x |right bucket|, bounded by
    ``max_shingle_df`` (applied to the UNION of both sides, so a
    boilerplate phrase hot in either corpus is capped). At 100 TB this
    is one shuffle join on the shingle plus one on the pair — never
    |L| x |R|. Output: (id_l, id_r, jaccard).

    Inherits ``shingles``' precondition: ``id_col`` unique per row on
    BOTH sides — duplicate ids inflate the per-document set sizes the
    Jaccard denominators are computed from.
    """
    overlaps = _shingle_overlap_join(
        left, right, text_col, id_col, n, max_shingle_df
    )
    return (
        overlaps.withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )


def containment_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC overlap join: pairs where containment(left in
    right) = |shingles(l) ∩ shingles(r)| / |shingles(l)| >=
    ``threshold`` — the quote/excerpt detector. A short document
    verbatim inside a long one scores containment ~1 while its
    Jaccard tends to ZERO as the long side grows (the union
    denominator swamps it), so symmetric similarity structurally
    cannot find quotes; this is the metric for snippet-vs-source,
    new-chunk-vs-corpus, and citation leakage checks. Same
    inverted-index shape and ``max_shingle_df`` hot-shingle cap as
    ``jaccard_join`` (one shuffle on the shingle, one on the pair,
    never |L| x |R|). Output: (id_l, id_r, containment)."""
    overlaps = _shingle_overlap_join(
        left, right, text_col, id_col, n, max_shingle_df
    )
    return (
        overlaps.withColumn(
            "containment",
            F.round(
                F.col("n_common").cast("double") / F.col("na").cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_l", "id_r", "containment")
    )


def _shingle_overlap_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared two-corpus shingle machinery for jaccard_join /
    containment_join: (id_l, id_r, n_common, na, nb) for every pair
    sharing >= 1 (df-capped) shingle."""
    sh_l = shingles(left, text_col, id_col, n)
    sh_r = shingles(right, text_col, id_col, n)
    if max_shingle_df:
        hot = (
            sh_l.select("shingle").union(sh_r.select("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("shingle")
        )
        sh_l = sh_l.join(F.broadcast(hot), "shingle", "left_anti")
        sh_r = sh_r.join(F.broadcast(hot), "shingle", "left_anti")
    # not cached — see ngram_jaccard_pairs: recompute of the map-side
    # shingle stage beats corpus-scale materialization and leaks nothing
    sz_l = sh_l.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_l"))
    sz_r = sh_r.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_r"))
    inter = (
        sh_l.select(F.col(id_col).alias("id_l"), "shingle")
        .join(sh_r.select(F.col(id_col).alias("id_r"), "shingle"), "shingle")
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter.join(
        sz_l.withColumnsRenamed({id_col: "id_l", "n_l": "na"}), "id_l"
    ).join(sz_r.withColumnsRenamed({id_col: "id_r", "n_r": "nb"}), "id_r")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    text_l: str,
    text_r: str,
    id_l: str,
    id_r: str,
    max_dist: int = 2,
    block_prefix: int = 4,
    max_block_df: int | None = None,
    block: str = "prefix",
) -> DataFrame:
    """Edit-distance entity resolution: pairs (one row from ``left``,
    one from ``right``) whose strings are within Levenshtein
    ``max_dist`` — the short-string fuzzy matcher (names, titles,
    product codes) where token-set Jaccard is meaningless because the
    whole string is one or two tokens.

    Blocking on the lowercase ``block_prefix``-char prefix: only pairs
    sharing the prefix are ever compared, so candidate volume is sum
    over prefixes of |left bucket| x |right bucket| — never |L| x |R|.
    The verify is Spark's builtin ``levenshtein`` (JVM codegen, and
    definitionally identical in DuckDB, so oracle-exact).

    ``block`` picks the blocking key(s): ``"prefix"`` (default)
    assumes corruptions beyond the first ``block_prefix`` chars
    (suffix typos, vendor suffixes); ``"suffix"`` blocks on the
    lowercase LAST ``block_prefix`` chars for leading-char corruption;
    ``"both"`` runs both passes and unions them, so a pair survives if
    its edits leave EITHER end intact — within ``max_dist <
    2*block_prefix`` edits that is every pair except those corrupted
    at both ends simultaneously. Each pass is independently blocked
    (same cost shape, ~2x one pass); the union is pair-distinct, so a
    pair matching in both blocks appears once. ``max_block_df`` caps
    hot blocks per pass (one ultra-common prefix is the k² trap, see
    cap_shingle_df). Output: (id_l, id_r, dist)."""
    if block not in ("prefix", "suffix", "both"):
        raise ValueError(f"block must be prefix|suffix|both, got {block!r}")

    def _key(text: str, mode: str):
        if mode == "prefix":
            return F.lower(F.substring(text, 1, block_prefix))
        # right() keeps the whole string when shorter, symmetric with
        # substring's prefix behavior; column-object form so names
        # needing backticks resolve identically to the prefix path
        # (code-review r10 #6 — the f-string expr broke on them)
        return F.lower(F.right(F.col(text), F.lit(block_prefix)))

    def _pass(mode: str) -> DataFrame:
        bl = left.select(
            F.col(id_l).alias("__il"), F.col(text_l).alias("__tl"),
            _key(text_l, mode).alias("__blk"),
        )
        br = right.select(
            F.col(id_r).alias("__ir"), F.col(text_r).alias("__tr"),
            _key(text_r, mode).alias("__blk"),
        )
        if max_block_df:
            bl = cap_shingle_df(bl, max_block_df, key_col="__blk")
            br = cap_shingle_df(br, max_block_df, key_col="__blk")
        return (
            bl.join(br, "__blk")
            # bounded form: the JVM computes only the banded DP strip
            # and returns -1 past the threshold — O(max_dist * len)
            # per pair instead of O(len^2), the verify cost that
            # matters when a block is large
            .withColumn(
                "dist",
                F.levenshtein(F.col("__tl"), F.col("__tr"), max_dist),
            )
            .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
            .select(
                F.col("__il").alias(id_l), F.col("__ir").alias(id_r), "dist"
            )
        )

    if block != "both":
        return _pass(block)
    # dist is functionally determined by the pair, so pair-level
    # distinct == row-level distinct
    return _pass("prefix").unionByName(_pass("suffix")).distinct()


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram of
    the whitespace-normalized text, slide a window of ``w`` hashes,
    keep each window's MINIMUM, emit the distinct kept set. Guarantees
    any shared substring of length >= k+w-1 contributes >= 1 common
    fingerprint, at ~1/w the density of the full k-gram set — the
    rolling-hash fingerprint a plagiarism/overlap detector scales on.

    Runs as an Arrow-batched pandas UDF — a deliberate exception to
    the built-ins-first rule: the higher-order-function formulation
    (transform over window starts slicing an outer hash array) has
    Catalyst inline the k-gram hash array into the window lambda, so
    the whole array is RE-EVALUATED per window — O(len^2) hash calls
    per document, measured 25x slower than the batched rolling pass
    at sf0.01. The UDF is a pure map (no shuffle, no state), so the
    100 TB story is unchanged: one Arrow-batched pass over the corpus.

    Gram hashing is a numpy-VECTORIZED dual Karp-Rabin polynomial
    hash (two independent 31-bit Horner chains, combined into one
    62-bit value): k fused array ops per document per chain instead
    of one hashlib.md5 call per character of corpus. Isolated timing
    on the sf0.1 document corpus (avg 297 chars/doc): 0.53 s vs
    0.84 s per 2k docs single-threaded against the md5 loop — a real
    but modest win at this doc length (per-call numpy overhead eats
    part of it; the gap widens with doc length, where the md5 loop is
    O(len) hashlib calls). The r7 bench regression attributed to this
    rewrite was actually the self-join's double UDF evaluation — see
    winnow_overlap_pairs, fixed with a localCheckpoint. The
    dual chain keeps corpus-level collision odds negligible (~2^-62
    per pair; a single 31-bit hash collides by birthday at ~50k
    distinct grams), and the modular arithmetic is plain BIGINT math,
    so the DuckDB oracle reproduces it exactly (same normalization:
    lowercase, \\s+ -> single space; code points, not bytes). Output:
    (id, fp) one row per distinct kept fingerprint.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def winnow(texts):
        import re as _re

        import numpy as np

        out = []
        for t in texts:
            s = _re.sub(r"\s+", " ", (t or "").lower())
            cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            n = len(cp)
            n_grams = max(n - k + 1, 1)
            kk = min(k, n)  # short doc: the single gram is the whole text
            h1 = np.zeros(n_grams, dtype=np.int64)
            h2 = np.zeros(n_grams, dtype=np.int64)
            for j in range(kk):  # k vectorized steps, not len(s) hashes
                c = cp[j : j + n_grams]
                h1 = (h1 * 1000003 + c) % 2147483647
                h2 = (h2 * 257 + c) % 2147483629
            hs = h1 * 2147483648 + h2
            if len(hs) >= w:
                mins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
            else:
                mins = hs.min(keepdims=True)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    winnow.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    winnow_udf = pandas_udf("array<long>")(winnow)
    return ensure_parallelism(df).select(
        F.col(id_col), F.explode(winnow_udf(F.col(text_col))).alias("fp")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    w: int = 8,
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Overlapping-document pairs by shared winnowing fingerprints:
    the inverted-index join touches only docs sharing >= 1 kept
    fingerprint (~1/w the density of a raw k-gram index), then keeps
    pairs with >= ``min_shared`` fingerprints in common. The
    containment-style complement to Jaccard near-dup: a paragraph
    copied into an otherwise-different document still shares its
    window minima even though whole-document similarity is low.

    ``k`` is the guarantee length lever: matches require a shared
    substring of >= k chars (detectable from k+w-1) — keep it well
    above common-phrase length (MOSS uses tens of characters) or
    boilerplate makes the candidate set quadratic. ``max_fp_df`` caps
    a fingerprint's document frequency exactly like cap_shingle_df
    caps hot shingles: a fp shared by m docs costs m^2 join rows, so
    corpus-wide template fps get dropped by a broadcast anti-join
    before the self-join. Output: (id_a, id_b, n_shared), id_a < id_b.
    """
    # staged before the self-join and the hot-key cap, which each read
    # it twice: the fingerprint UDF runs once. Two longs per row, ~1/w
    # the density of the corpus grams. Measured at sf0.1 (5k docs,
    # 306k fps): staged overlap 1.62 s vs per-side recompute 2.32 s.
    fps = cap_shingle_df(
        winnow_fingerprints(df, text_col, id_col, k, w).localCheckpoint(eager=True),
        max_fp_df,
        key_col="fp",
    )
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_from_shingles(sh: DataFrame, id_col: str, num_hashes: int = 8) -> DataFrame:
    """MinHash signatures from a prepared (id, shingle) set.

    md5 yields 128 bits; hashes 2j and 2j+1 are the two independent
    60-bit halves (hex chars 1-15 and 17-31) of md5(j || shingle), so
    num_hashes permutations cost num_hashes/2 md5 evaluations — md5 is
    the dominant signature cost and this halves it with no loss (the
    halves are independent uniform bits). One groupBy; all mins are
    conditional aggregates in a single pass. Output: (id, sig
    array<long>)."""
    halves = {}
    for j in range((num_hashes + 1) // 2):
        hx = F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))
        halves[2 * j] = F.substring(hx, 1, 15)
        halves[2 * j + 1] = F.substring(hx, 17, 15)
    # min over the fixed-width lowercase-hex substrings EQUALS min over
    # their numeric values (15 hex chars, uniform case -> lexicographic
    # == numeric order), so the base-16 conversion runs once per
    # (doc, hash) AFTER the aggregate instead of once per
    # (shingle, hash) before it — identical signature values
    # (r15 perf: conv dropped from the 35M-row map stage at sf10)
    aggs = [F.min(halves[i]).alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col,
        F.array(
            *[
                F.conv(F.col(f"h{i}"), 16, 10).cast("long")
                for i in range(num_hashes)
            ]
        ).alias("sig"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per document: shingle then hash (see
    minhash_from_shingles)."""
    return minhash_from_shingles(shingles(df, text_col, id_col, n), id_col, num_hashes)


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    bands: int = 4,
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band bucket
    are candidates. bands must divide the signature length."""
    banded = sig.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.to_json(
                        F.slice(
                            F.col("sig"),
                            b * (F.size("sig") / bands).cast("int") + 1,
                            (F.size("sig") / bands).cast("int"),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("pos", "bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = banded.withColumnRenamed(id_col, "id_a")
    b = banded.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    candidate pairs -> verify with true Jaccard >= threshold.

    The verification join is candidate-DRIVEN: the candidate pair set
    (bounded by the LSH blocking, tiny next to the corpus) is joined to
    the left doc's shingles, then intersected with the right doc's via
    an equi-join on (id_b, shingle): exact shingle counts, no hashing,
    and a zero-overlap pair emits no row. The work is exactly
    sum over candidate pairs of |shingles(id_a)| — the inverted-index
    self-join blowup LSH exists to avoid never materializes, and
    non-candidate docs never enter any join. This shape also references
    the candidate subplan ONCE, so the shingle->signature->band
    pipeline is derived once per action.
    ``max_shingle_df`` additionally caps hot-shingle fan-out (see
    cap_shingle_df), applied before signatures so the LSH and
    verification stages see the same shingle sets.

    The shingle frame is staged (module docstring): signatures, sizes
    and both verification sides read it."""
    sh = cap_shingle_df(
        shingles(df, text_col, id_col, n), max_shingle_df
    ).localCheckpoint(eager=True)
    sig = minhash_from_shingles(sh, id_col, num_hashes)
    cands = lsh_candidate_pairs(sig, id_col, bands)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cands.join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its LARGER neighbors to
    the minimum of its closed neighborhood. Input/output: undirected
    edge set as canonical (src > dst) rows."""
    und = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = und.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        und.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects its SMALLER-or-equal
    neighbors (and itself) to the minimum of its closed neighborhood.
    Canonical (src > dst) in, canonical out."""
    canon = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    grouped = canon.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    m = F.array_min("nbrs")
    out = grouped.select(
        F.explode(F.array_append(F.filter("nbrs", lambda v: v != m), F.col("src"))).alias("src"),
        m.alias("dst"),
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _cc_local_union_find(
    edges: DataFrame, nodes: DataFrame | None, id_col: str, stats: dict | None
) -> DataFrame:
    """Driver-side min-root union-find over a BOUNDED edge set (the
    sub-threshold branch of connected_components_star — the caller has
    already counted the edges). Path-halving find; union roots by id
    order so every component's root is its minimum id — the exact
    distributed contract."""
    if stats is not None:
        stats["rounds"] = 0
        stats["local"] = True
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    members = {v for r in rows for v in (r["src"], r["dst"])}
    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField("group_id", id_type)]
    )
    labels = spark.createDataFrame(
        [(m, find(m)) for m in sorted(members)], schema
    )
    if nodes is not None:
        return (
            nodes.select(id_col)
            .join(labels, id_col, "left")
            .select(id_col, F.coalesce("group_id", F.col(id_col)).alias("group_id"))
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 50,
    stats: dict | None = None,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al.): converges in O(log n) rounds REGARDLESS of graph
    diameter — the scale path for 100 TB corpora where a near-dup
    chain (doc A ~ B ~ C ~ ...) can be arbitrarily long and label
    propagation would need O(diameter) shuffles. Each round is two
    groupBy shuffles over the (shrinking) edge set; lineage truncated
    per round with localCheckpoint. Convergence when the canonical
    edge set is a stable star forest (small-star fixpoint), checked
    with one count per round.

    Output contract identical to connected_components: (id_col,
    group_id = min id reachable).

    Size-based strategy choice (the AQE-broadcast decision applied to
    an iterative algorithm): the near-dup graph is usually TINY next
    to the corpus — LSH pairs are the duplicates, not the documents —
    and below ``local_threshold`` edges (a bounded, ~MB-scale collect;
    the count is already paid) the star loop's per-round scheduling
    latency costs more than the whole problem, so the component labels
    are computed with a driver-side min-root union-find instead:
    byte-identical output, zero shuffle rounds. Above the threshold —
    the genuine 100 TB regime — the distributed star loop runs
    unchanged. NOTE the driver-memory implication of the default: up
    to ``local_threshold`` edge rows (plus the component member set)
    are collected and held on the driver — ~MB at the 100k default,
    but a caller running on a memory-tight driver, or one that must
    guarantee a fully-distributed plan, should pass
    ``local_threshold=0``, which forces the distributed path (the
    round-bound test pins the star algorithm that way).

    ``stats`` (optional dict) gets ``{"rounds": k}`` plus
    ``{"local": True}`` when the union-find path ran — observability
    for the O(log n) bound, pinned by the worst-case chain test
    (test_giant_component_round_bound)."""
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
            F.least(F.col(id_a), F.col(id_b)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_count = edges.count()
    if local_threshold > 0 and prev_count <= local_threshold:
        return _cc_local_union_find(edges, nodes, id_col, stats)
    if stats is not None:
        stats["local"] = False  # never leave a stale key from a prior call
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        grown = _large_star(edges)
        shrunk = _small_star(grown).localCheckpoint(eager=True)
        # fixpoint: small-star output == previous edge set (star
        # forest). Cheap count compare first; only on equal counts pay
        # the one subtract (empty subtract + equal counts == equal
        # sets — both are distinct).
        new_count = shrunk.count()
        converged = (
            new_count == prev_count and shrunk.subtract(edges).isEmpty()
        )
        edges, prev_count = shrunk, new_count
        if converged:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # star forest: every non-root points straight at its component min
    labels = edges.select(F.col("src").alias(id_col), F.col("dst").alias("group_id"))
    roots = edges.select(F.col("dst").alias(id_col)).distinct().withColumn(
        "group_id", F.col(id_col)
    )
    labels = labels.union(roots).groupBy(id_col).agg(F.min("group_id").alias("group_id"))
    if nodes is not None:
        return (
            nodes.select(id_col)
            .join(labels, id_col, "left")
            .select(id_col, F.coalesce("group_id", F.col(id_col)).alias("group_id"))
        )
    return labels


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Dedup group assignment: collapse near-dup pairs into connected
    components; every node gets ``group_id`` = min id reachable in the
    similarity graph (the canonical survivor).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels, so the component
    minimum spreads one hop per round and the loop converges in
    O(graph diameter) rounds — near-dup clusters are shallow (most are
    cliques from a shared LSH bucket), so 2-4 rounds in practice.
    Per round: one shuffle join + one groupBy; lineage truncated with
    localCheckpoint so plans stay flat. The convergence test is a
    single count() — this is a genuinely iterative algorithm, the one
    place a driver-side loop is the right Spark shape. For graphs with
    unbounded diameter use connected_components_star (O(log n) rounds).

    If ``nodes`` is given (DataFrame containing ``id_col``), rows
    absent from ``pairs`` come out as singleton groups of themselves.
    Output: (id_col, group_id).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = edges.select(F.col("src").alias(id_col)).distinct().withColumn(
        "group_id", F.col(id_col)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col(id_col).alias("dst"), F.col("group_id").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels[id_col] == nbr_min["src"], "left")
            .select(
                F.col(id_col),
                F.least(F.col("group_id"), F.coalesce("nbr_min", "group_id")).alias("group_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.group_id") != F.col("o.group_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if nodes is not None:
        return (
            nodes.select(id_col)
            .join(labels, id_col, "left")
            .select(id_col, F.coalesce("group_id", F.col(id_col)).alias("group_id"))
        )
    return labels


def pick_survivors(
    df: DataFrame,
    groups: DataFrame,
    id_col: str = "doc_id",
    order_col: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    """One surviving ROW per dedup group. Default = the group-minimum
    id (the canonical contract ``connected_components*`` already
    encodes); pass ``order_col`` to keep the BEST duplicate instead —
    the choice real pipelines make, because near-dup copies differ in
    truncation and boilerplate and min-id keeps an arbitrary one
    (``order_col="n_chars"`` keeps the longest, a quality score keeps
    the best-scored). Deterministic tie-break on the id.

    One hash join on the id plus one window over ``group_id`` — the
    window's partition is the dedup group (bounded by group size, not
    corpus), so there is no global sort. Output: the full surviving
    rows plus their ``group_id``.

    Rows absent from ``groups`` are singletons, not drop candidates:
    the join is LEFT and a missing ``group_id`` coalesces to the row's
    own id (its own one-element group), so a ``groups`` frame built
    from pairs only — without ``nodes=`` — cannot silently delete every
    non-duplicate document.

    Physical shape: when the sort key is expressible as an ascending
    struct (always for the default min-id policy and any ascending
    ``order_col``; for descending numerics via an overflow-safe order
    reversal) the survivor is ONE ``min_by`` aggregation — partial
    map-side combine, no per-group sort, the right plan at corpus
    scale where a window would sort every partition. Non-numeric
    descending order columns fall back to the row_number window
    (still group-bounded, no global sort)."""
    labeled = (
        df.join(groups, id_col, "left")
        .withColumn("group_id", F.coalesce("group_id", F.col(id_col)))
    )
    out_cols = [c for c in labeled.columns if c != "group_id"]
    # leading null-flag field reproduces the window's null placement
    # exactly (Spark sorts: asc = nulls first, desc = nulls last).
    # Descending keys are order-reversed WITHOUT unary negation:
    # integrals use (-1 - x), total and overflow-free at Long.MIN_VALUE
    # (where -x wraps, or throws under ANSI); floats keep -x but add a
    # NaN flag so NaN places first, as the window's desc sort does.
    dtype = dict(df.dtypes).get(order_col) if order_col else None
    if order_col is None:
        sort_key: Column | None = F.struct(F.col(id_col))
    elif ascending:
        sort_key = F.struct(
            F.col(order_col).isNotNull().cast("int").alias("__nf"),
            F.col(order_col).alias("__o"), F.col(id_col).alias("__id"),
        )
    elif dtype in ("tinyint", "smallint", "int", "bigint"):
        sort_key = F.struct(
            F.col(order_col).isNull().cast("int").alias("__nf"),
            (F.lit(-1) - F.col(order_col)).alias("__o"),
            F.col(id_col).alias("__id"),
        )
    elif dtype in ("float", "double"):
        sort_key = F.struct(
            F.col(order_col).isNull().cast("int").alias("__nf"),
            F.when(F.isnan(F.col(order_col)), 0).otherwise(1).alias("__nan"),
            (-F.col(order_col)).alias("__o"),
            F.col(id_col).alias("__id"),
        )
    else:
        sort_key = None
    if sort_key is not None:
        return (
            labeled.groupBy("group_id")
            .agg(F.min_by(F.struct(*out_cols), sort_key).alias("__row"))
            .select("group_id", *[F.col(f"__row.{c}").alias(c) for c in out_cols])
            .select(*labeled.columns)
        )
    from pyspark.sql import Window

    o = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy("group_id").orderBy(o, F.col(id_col).asc())
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def simhash_band_keys(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16, bands: int = 4
) -> DataFrame:
    """Disjoint bit-bands of the SimHash fingerprint as blocking keys:
    (id, simhash, band, val) — one row per band. Two docs within
    Hamming distance < bands agree on >= 1 (band, val) by pigeonhole.
    Shared by the pairwise blocker (simhash_neardup_pairs) and the
    streaming suppressor (neardup_survivors over an accumulated key
    index)."""
    fp = simhash(df, text_col, id_col, bits)
    return fingerprint_band_keys(fp, id_col, "simhash", bits, bands)


def fingerprint_band_keys(
    fp: DataFrame, id_col: str, fp_col: str, bits: int, bands: int
) -> DataFrame:
    """Disjoint bit-bands of ANY integer fingerprint column as
    blocking keys: (id, <fp_col>, band, val) — one row per band. The
    pigeonhole guarantee (two fingerprints within Hamming distance <
    bands agree on >= 1 band) holds for any fingerprint, so the text
    SimHash blocker and the image dHash blocker (r12,
    operators/multimodal.image_neardup_pairs) share this one
    explode."""
    if bits % bands:
        raise ValueError(
            f"bands ({bands}) must divide the fingerprint width "
            f"({bits}) so the disjoint bands cover every bit"
        )
    band_bits = bits // bands
    carried = list(fp.columns)  # id + fp + any extra keys (e.g. the
    # video blocker's frame_no) ride along into the band rows
    return fp.select(
        *carried,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(fp_col, i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        *carried, F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )


def neardup_survivors(
    keys: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Survivors under any-earlier-near-dup suppression: a document is
    suppressed iff ANY smaller-id document's fingerprint is within
    ``max_hamming`` of its own. Band keys only BLOCK (candidates =
    band-mates); every candidate is VERIFIED with popcount(XOR) on the
    full fingerprint — an unverified shared-band rule accumulates
    random-collision false kills linearly in corpus size. With bands >
    max_hamming the blocking is lossless by pigeonhole, so the result
    equals the exact all-pairs filter (the oracle).

    The rule is deliberately independent of which earlier documents
    themselves survived (a suppressed doc's fingerprint still
    suppresses), which makes it BATCH-SPLIT INDEPENDENT: evaluating it
    incrementally over an accumulated key index — as the streaming
    pipeline does per micro-batch — yields exactly the one-shot batch
    result, so a SQL oracle can check the streaming run. PRECONDITION
    for that incremental equality: ids must arrive in nondecreasing
    order across batches (a seq-ordered replay / monotone ingest id).
    A later batch carrying a SMALLER id cannot retract an
    already-emitted survivor through an append-only sink — for
    unordered arrival, re-run the one-shot form over the accumulated
    keys instead. The pair join carries only (id, fingerprint-long) —
    no fat shuffle. Output: (id, simhash)."""
    return neardup_survivors_incremental(keys, None, id_col, max_hamming)


def neardup_survivors_incremental(
    batch_keys: DataFrame,
    earlier_keys: DataFrame | None,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """The per-micro-batch form of ``neardup_survivors``: survivors
    among the BATCH's documents only, suppressed by any smaller-id
    fingerprint from the batch itself or from ``earlier_keys`` (the
    accumulated index, ideally already partition-pruned to the batch's
    band keys — see ``read_band_keys_pruned``). The candidate join's
    left side is the batch, not the whole corpus, so per-batch compute
    is O(batch x matched-band-mates) instead of O(corpus²). Because
    the suppression rule is batch-split independent (docstring above),
    unioning each batch's output reproduces the one-shot result
    exactly. Output: (id, simhash), batch docs only."""
    e_keys = (
        batch_keys
        if earlier_keys is None
        else batch_keys.unionByName(earlier_keys.select(*batch_keys.columns))
    )
    a = batch_keys.select(
        F.col(id_col).alias("__id"), F.col("simhash").alias("__fp"), "band", "val"
    )
    # Distinct-fingerprint compression (r12 scale hardening): the
    # suppression predicate — "ANY smaller id within the hamming
    # budget" — only ever needs the SMALLEST id carrying each distinct
    # fingerprint value (any other carrier is a strictly weaker
    # witness), so the earlier side collapses to one row per distinct
    # (fingerprint, band, val) before the candidate join. Exact by
    # construction, and it caps the hot-bucket blowup: a corpus of n
    # IDENTICAL fingerprints (solid-color images through the dHash
    # path, boilerplate docs through SimHash) otherwise puts n rows on
    # both sides of one (band, val) key — an O(n^2) candidate join —
    # where the compressed form joins n batch rows against 1. The
    # groupBy is partial-aggregatable (map-side combine to distinct
    # fingerprints per partition), and the earlier side is already
    # partition-pruned to the batch's band keys, so the extra exchange
    # moves only compressed matched-band rows.
    e = (
        e_keys.select(
            F.col(id_col).alias("__eid"), F.col("simhash").alias("__efp"),
            "band", "val",
        )
        .groupBy("__efp", "band", "val")
        .agg(F.min("__eid").alias("__eid"))
    )
    hits = (
        a.join(e, ["band", "val"])
        .filter(
            (F.col("__eid") < F.col("__id"))
            & (F.bit_count(F.col("__fp").bitwiseXOR(F.col("__efp"))) <= max_hamming)
        )
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    docs = batch_keys.groupBy(id_col).agg(F.first("simhash").alias("simhash"))
    return docs.join(hits, id_col, "left_anti")


def append_band_key_index(keys: DataFrame, path: str, val_buckets: int = 64) -> None:
    """Append SimHash band keys to a parquet index PARTITIONED by
    (band, vb=val%val_buckets) — the layout that lets each micro-batch
    read only the directories its own band keys can match, instead of
    rescanning the whole accumulated index (the same manifest-level
    file skip ``write_ivf_partitioned`` gives the ANN axis and the
    modulo shard gives ingest). The repartition puts each (band, vb)
    group in exactly one task, so every batch adds at most one file
    per touched directory — file count grows with batches, not with
    batch size; ``compact_band_key_index`` folds a fragmented
    directory back to one file.

    Each append is one snapshot commit
    (platypus_ingestion_plugins_spark.snapshots): the new files become
    visible together or not at all. ``val_buckets`` is the index's
    on-disk layout, so it rides in the snapshot's metadata, and an
    append with another value raises: it would scatter the same val
    across two bucket schemes, and a reader would prune away
    directories holding genuine matches. Appends are replay-safe
    because the index is a set: a re-appended batch adds duplicate
    keys, which read the same and which compaction drops."""
    log = SnapshotLog(keys.sparkSession, path)
    snap = log.latest()
    if snap is not None and snap["val_buckets"] != val_buckets:
        raise ValueError(
            f"index at {path} was written with val_buckets={snap['val_buckets']}, "
            f"append requested {val_buckets}"
        )
    out = keys.withColumn("vb", F.pmod(F.col("val"), F.lit(val_buckets)))
    meta = {"val_buckets": val_buckets}
    log.commit(snap, out.repartition("band", "vb"), meta, ("band", "vb"), [])


def _pin_index(spark, path: str, kind: str) -> tuple[SnapshotLog, dict]:
    """The log of the ``kind`` index at ``path`` (band-key or IVF) and
    its newest snapshot. An index never committed, or written before
    snapshot commits, raises: it is not read as empty."""
    log = SnapshotLog(spark, path)
    snap = log.latest()
    if snap is None:
        raise ValueError(f"no {kind} index at {path}")
    return log, snap


def compact_band_key_index(
    spark, path: str, max_files_per_dir: int = 4
) -> list[str]:
    """Rewrite fragmented (band, vb) index directories to one file
    each. Every ``append_band_key_index`` adds at most one file per
    touched directory, so after B micro-batches a hot directory holds
    up to B files and the pruned read's cost drifts from data size to
    file count — the same small-file pathology ``ServingTable.compact``
    handles for serving buckets. See ``_compact_partition_dirs``.
    Returns the directories rewritten."""
    return _compact_partition_dirs(
        spark, path, "band-key", ("band", "vb"), "val_buckets", max_files_per_dir
    )


def _compact_partition_dirs(
    spark, path: str, kind: str, part_cols: tuple[str, ...], scheme: str,
    max_files_per_dir: int,
) -> list[str]:
    """Compaction of a set-valued index partitioned by ``part_cols``
    (the band-key index, the IVF lists): every directory that holds
    more than ``max_files_per_dir`` files in the newest snapshot is
    read, deduplicated (which also drops replayed appends) and written
    back as one file (one shuffle task per directory), in ONE snapshot
    commit that replaces those directories and keeps the ``scheme``
    metadata. Fragmentation is read from the snapshot, so nothing is
    listed to find it. A reader pinned to the snapshot before keeps
    reading the replaced files: they stay on disk until the next
    commit. A crash before the publish leaves the index as it was, and
    the next commit deletes the unpublished files. Returns the
    directories rewritten."""
    log, snap = _pin_index(spark, path, kind)
    oversized = sorted(d for d, names in snap["files"].items() if len(names) > max_files_per_dir)
    if not oversized:
        return []
    rows = log.read(snap, oversized).dropDuplicates().repartition(len(oversized), *part_cols)
    log.commit(snap, rows, {scheme: snap[scheme]}, part_cols, oversized)
    return [f"{log.path}/{d}" for d in oversized]


def read_band_keys_pruned(
    spark,
    path: str,
    batch_keys: DataFrame,
    val_buckets: int | None = None,
) -> DataFrame:
    """Partition-pruned read of an ``append_band_key_index`` index:
    only the files the newest snapshot lists in the (band, vb)
    directories of the batch's own keys are scanned, named from the
    snapshot (no directory listing; writes nothing). The batch's
    distinct (band, vb) set is collected driver-side — bounded by
    bands x val_buckets (a few hundred pairs), never by batch or
    corpus size. For a micro-batch of b docs against an N-doc index
    this reads ~min(b, val_buckets)/val_buckets of each band's data
    instead of all of it — the steady-state streaming case (small
    batch, huge accumulated corpus) stops paying O(N) I/O per batch.

    ``val_buckets`` defaults to the index's pinned value; a different
    one raises (a mismatched bucket scheme would silently prune away
    matching directories). An index with no snapshot raises."""
    log, snap = _pin_index(spark, path, "band-key")
    pinned = snap["val_buckets"]
    if val_buckets is not None and pinned != val_buckets:
        raise ValueError(
            f"index at {path} was written with val_buckets={pinned}, "
            f"read requested {val_buckets}"
        )
    pairs = (
        batch_keys.select("band", F.pmod(F.col("val"), F.lit(pinned)).alias("vb"))
        .distinct()
        .collect()
    )
    return log.read(snap, [f"band={r['band']}/vb={r['vb']}" for r in pairs])


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Banded blocking, LOSSLESS by pigeonhole: with ``bands`` >
    ``max_hamming`` disjoint bit-bands, two fingerprints within the
    Hamming budget agree exactly on >= 1 band, so only pairs sharing a
    band value are verified — never the n^2 cross join — and recall is
    exactly 1 (the oracle is the exact all-pairs filter). Verification
    is one popcount(XOR) per candidate. Output: (id_a, id_b, hamming).
    """
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming for lossless blocking")
    keyed = simhash_band_keys(df, text_col, id_col, bits, bands)
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "band", "val"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "band", "val"
    )
    # popcount-verify BEFORE deduplicating pairs: the filter is a
    # codegen expression on the join output, the dropDuplicates is a
    # shuffle — run the cheap kill first so only true near-dups (a
    # tiny fraction of candidates) pay the shuffle
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: majority vote of token-hash bits.

    Bit j of a token = bit (j%4) of hex digit (j/4) of md5(token);
    fingerprint bit j is 1 iff the sum over tokens of (2*bit-1) > 0.
    Pure integer arithmetic on md5 -> oracle-reproducible anywhere.
    Output: (id, simhash long)."""
    tok = ensure_parallelism(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hexd = F.md5(F.col("tok"))
    digit = lambda j: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(hexd, j // 4 + 1, 1)) - 1
    )
    votes = [
        F.sum(
            F.when(F.shiftright(digit(j), j % 4).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select(F.col(id_col), fp.cast("long").alias("simhash"))


def mask_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_count: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """EXACT substring-level dedup (Lee et al. 2022, arXiv:2107.06499
    — "Deduplicating Training Data Makes Language Models Better"):
    drop every token covered by a ``k``-token window that occurs at
    least ``min_count`` times CORPUS-WIDE (across documents or
    repeated within one). This is exactly the paper's ExactSubstr
    criterion re-keyed from suffix arrays to windows: a span of
    >= k tokens duplicated anywhere consists entirely of duplicated
    k-grams, and any duplicated k-gram IS a k-token duplicated span —
    so masking the union of hot-window coverage removes precisely the
    maximal >= k-token repeated regions, nothing more. Documents
    shorter than ``k`` tokens cannot contain a k-token span and pass
    through untouched.

    Output: the input rows plus ``out_col`` (default
    ``<text_col>_deduped``) = the SURVIVING tokens joined by single
    spaces (whitespace-normalized — the reassembly contract; a fully
    covered document comes back as the empty string). Tokenization is
    whitespace splitting with case preserved (NOT ``text.tokens``,
    which lowercases and strips punctuation — reassembly must emit the
    document's own tokens).

    Distributed shape (the suffix-array build the paper uses is a
    single-machine algorithm; this is the shuffle-native equivalent):
      1. map: each long-enough doc explodes to (id, pos, k-gram) via
         the zipped-slice expression (``_gram_array``'s trick with
         positions — the token array is evaluated once per row, never
         re-tokenized per gram);
      2. one partial-aggregatable count per gram; occurrences >=
         min_count form the hot set (count counts OCCURRENCES, so a
         within-doc repeat is hot with min_count=2);
      3. hot starts join back on the gram string (shuffle join — the
         hot set is data-dependent and may exceed broadcast size);
      4. coverage WITHOUT the pos x k blowup: per doc, one window
         ordered by position carries ``max(hot start) so far``; token
         t is covered iff that running max >= t-k+1. O(n) rows per
         doc, partitioned by doc — parallel across the corpus;
      5. per-doc ordered reassembly of surviving tokens (the
         line_dedup pattern).
    Shuffles: gram count, hot join, per-doc window, final group — all
    keyed/partial-aggregatable; nothing corpus-squared anywhere. Grams
    are sha2-keyed before the first exchange (64-hex keys, not raw
    k-token strings — the streaming path's ``span_start_keys``
    convention), so exchange cost scales with corpus token COUNT, not
    token count x k bytes.
    """
    out_col = out_col or f"{text_col}_deduped"
    toks = _ws_tokens(text_col)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), toks.alias("__t")
    )
    longd = base.filter(F.size("__t") >= k)
    # sha2 the gram BEFORE any exchange: the count shuffle and the hot
    # join then ship 64-hex keys instead of raw k-token strings (~4-5x
    # fewer bytes at k=50) — the same keying the streaming index path
    # uses (span_start_keys). Counting per hash = counting per gram
    # (sha2-256 collisions are negligible at any corpus size).
    starts = _span_starts(longd, k).withColumn("__g", F.sha2("__g", 256))
    hot = (
        starts.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__g")
    )
    hot_starts = starts.join(hot, "__g").select("__id", "__i")
    survivors = _mask_coverage_reassemble(longd, hot_starts, k)
    # long docs: surviving tokens (empty string when fully covered —
    # the left join keeps docs whose every token was masked via
    # coalesce below); short docs: verbatim whitespace-normalized text
    return (
        df.join(
            survivors.withColumnRenamed("__id", id_col), id_col, "left"
        )
        .withColumn(
            out_col,
            F.when(
                F.size(toks) >= k, F.coalesce(F.col("__clean"), F.lit(""))
            ).otherwise(F.concat_ws(" ", toks)),
        )
        .drop("__clean")
    )


def _ws_tokens(text_col: str):
    """Whitespace tokens, case preserved, no empties — NOT
    ``text.tokens`` (which lowercases and strips punctuation):
    span-removal reassembly must emit the document's own tokens.
    NULL text coalesces to '' (module NULL convention, matching
    ``line_dedup``/``_doc_lines``): a NULL-text row yields zero
    tokens and reassembles to '', identical to the oracle's
    coalesce(text, '')."""
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != F.lit(""),
    )


def _span_starts(longd: DataFrame, k: int) -> DataFrame:
    """(__id, __i, __g): one row per k-token window start over a
    (__id, __t) frame of >= k-token docs. The zipped-slice expression
    evaluates the token array once per row (see ``_gram_array`` for
    why the naive transform re-tokenizes per gram)."""
    m = F.size("__t") - k + 1
    zipped = F.arrays_zip(*[F.slice("__t", j + 1, m) for j in range(k)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )
    return longd.select(
        "__id", F.posexplode(grams).alias("__p0", "__g")
    ).select("__id", (F.col("__p0") + 1).alias("__i"), "__g")


def _mask_coverage_reassemble(
    longd: DataFrame, hot_starts: DataFrame, k: int
) -> DataFrame:
    """(__id, __clean): drop every token covered by a hot window start
    (start s covers positions [s, s+k-1]), then ordered reassembly.

    r16 shape (guide §2.3 "shuffle fewer bytes"): the hot starts
    aggregate to one array per DOC, join the one-row-per-doc token
    frame, and the coverage set + reassembly run in codegen
    (sequence/array_except/transform) — the only shuffled rows are
    doc-level (the hot-start aggregate and the doc join), where the
    previous shape exploded every token of every long doc through a
    (id, pos) join exchange, a per-doc running-max window exchange
    and a collect_list re-sort (~2 full token-count shuffles;
    measured 3.9 s -> 2.5 s on the sf0.1 streaming ExactSubstr
    batch). Work per doc is O(|hot starts| * k) to build the covered
    set and O(n) to filter — linear in document length for fixed k.
    A fully-covered doc emits __clean = '' (value-identical to the
    old shape's dropped-row + caller coalesce('))."""
    hot = hot_starts.groupBy("__id").agg(
        F.collect_list("__i").alias("__hs")
    )
    j = longd.join(hot, "__id", "left")
    n = F.size("__t")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce("__hs", F.array().cast("array<int>")),
                lambda s: F.sequence(s, F.least(s + k - 1, n)),
            )
        )
    )
    kept = F.array_except(F.sequence(F.lit(1), n), covered)
    return j.select(
        "__id",
        F.concat_ws(
            " ", F.transform(kept, lambda p: F.element_at("__t", p))
        ).alias("__clean"),
    )


def span_start_keys(
    batch: DataFrame, text_col: str, id_col: str, k: int = 50
) -> DataFrame:
    """(id, __i, line_key) — one row per k-token window start;
    ``line_key`` = sha2 of the window text, the count-index key
    convention, so ``append_line_count_index`` /
    ``read_line_counts_pruned`` / ``compact_line_count_index``
    accumulate SPAN counts completely unchanged (the index machinery
    is generic over sha2-hex keys; 'line' in its names is historical).
    Persist this in a foreachBatch: pruning, ranking and the count
    append all derive from it."""
    base = batch.select(
        F.col(id_col), _ws_tokens(text_col).alias("__t")
    ).filter(F.size("__t") >= k)
    starts = _span_starts(
        base.withColumnRenamed(id_col, "__id"), k
    )
    return starts.select(
        F.col("__id").alias(id_col),
        "__i",
        F.sha2(F.col("__g"), 256).alias("line_key"),
    )


def span_count_keys(starts: DataFrame, id_col: str) -> DataFrame:
    """Per-batch (line_key, n) DISTINCT-DOCUMENT span counts — the
    rows ``append_line_count_index`` accumulates for the streaming
    ExactSubstr criterion (distinct docs, not occurrences: see
    ``mask_repeated_spans_incremental``)."""
    return (
        starts.select("line_key", id_col)
        .distinct()
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def mask_repeated_spans_incremental(
    batch: DataFrame,
    earlier_counts: DataFrame | None,
    text_col: str,
    id_col: str,
    k: int = 50,
    min_count: int = 2,
    starts: DataFrame | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Per-micro-batch ExactSubstr against an accumulated span-count
    index: a batch document masks the tokens of a k-token window iff
    at least ``min_count - 1`` SMALLER-ID documents (earlier batches
    plus smaller ids within this batch) contain that window — so the
    window's first document keeps its copy and every later one scrubs
    it. First-keeps is the batch-split-independent form (emitted
    output cannot be retracted); under the seq-ordered ingest
    contract (the near-dup/line index contract: every earlier-batch
    id < every current-batch id) the union of batch outputs equals
    the one-shot first-keeps computation the oracle replays.

    Two deliberate deltas vs the batch ``mask_repeated_spans``:
    DISTINCT-DOC counting (an occurrence criterion would need to
    retract the first doc's copy of a within-doc repeat), and the
    first occurrence SURVIVES (the batch operator masks every copy).

    ``earlier_counts`` is (line_key, n) from the accumulated index,
    ideally pruned to this batch's buckets
    (``read_line_counts_pruned``); None for the first batch. Pass the
    persisted ``span_start_keys`` frame as ``starts`` so the explode
    runs once per batch. Saturated keys (earlier count already >=
    min_count) skip the rank window entirely — the hottest boilerplate
    spans never funnel through a single rank task (the
    ``line_dedup_incremental`` guard). Output: the batch's rows plus
    ``out_col`` (surviving tokens, space-joined; sub-k docs
    whitespace-normalized verbatim)."""
    from pyspark.sql import Window

    out_col = out_col or f"{text_col}_deduped"
    st = (
        span_start_keys(batch, text_col, id_col, k)
        if starts is None
        else starts
    )
    pairs = st.select("line_key", id_col).distinct()
    if earlier_counts is not None:
        pairs = pairs.join(
            earlier_counts.select(
                "line_key", F.col("n").alias("__n_earlier")
            ),
            "line_key",
            "left",
        ).withColumn("__n_earlier", F.coalesce("__n_earlier", F.lit(0)))
    else:
        pairs = pairs.withColumn("__n_earlier", F.lit(0))
    saturated = pairs.filter(F.col("__n_earlier") >= F.lit(min_count))
    w = Window.partitionBy("line_key").orderBy(F.col(id_col).asc())
    ranked = (
        pairs.filter(F.col("__n_earlier") < F.lit(min_count))
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__n_earlier") + F.col("__rank") >= F.lit(min_count))
    )
    hot_docs = saturated.select("line_key", id_col).unionByName(
        ranked.select("line_key", id_col)
    )
    hot_starts = st.join(hot_docs, ["line_key", id_col]).select(
        F.col(id_col).alias("__id"), "__i"
    )
    toks = _ws_tokens(text_col)
    longd = batch.select(
        F.col(id_col).alias("__id"), toks.alias("__t")
    ).filter(F.size("__t") >= k)
    survivors = _mask_coverage_reassemble(longd, hot_starts, k)
    return (
        batch.join(
            survivors.withColumnRenamed("__id", id_col), id_col, "left"
        )
        .withColumn(
            out_col,
            F.when(
                F.size(toks) >= k, F.coalesce(F.col("__clean"), F.lit(""))
            ).otherwise(F.concat_ws(" ", toks)),
        )
        .drop("__clean")
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Soft deduplication (NEW r15): instead of DROPPING duplicates,
    weight each row by the inverse of its exact-content copy count —
    every distinct content then contributes equal expected mass to a
    weighted sample (``sampling.weighted_sample_wor`` /
    ``temperature_mix`` compose downstream), the SoftDeDup reading
    (He et al. 2024) that preserves natural duplication signal
    without letting boilerplate dominate the mixture. Output: the
    input rows + ``n_copies`` + ``weight`` (1/n_copies, 6dp).

    One partial-aggregatable count over the content hash + one join
    back on that hash — the exact_dedup shape, minus the drop."""
    h = F.sha2(F.col(text_col), 256)
    counts = (
        df.select(h.alias("__h"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    )
    return (
        df.withColumn("__h", h)
        .join(counts, "__h")
        .drop("__h")
        .withColumn(
            "weight", F.round(F.lit(1.0) / F.col("n_copies"), 6)
        )
    )
