"""Preset compositions: the standard pretraining-corpus hygiene chain
assembled from the engine's oracle-verified primitives.

Each stage is independently tested and oracle-checked (see SURVEY §2.7
for the per-operator evidence); this module encodes the ORDER the
stages compose in, which is itself load-bearing:

1. normalize BEFORE any hashing — composed vs decomposed spellings
   would leak past every hash-keyed stage (functions/text.
   normalize_unicode);
2. exact dedup before near-dup — hash-identical copies are the cheap
   90% and shrink the near-dup candidate space (operators/dedup);
3. near-dup suppression keeps each duplicate group's min-id survivor
   (minhash_lsh_dedup_pairs → connected_components_star);
4. quality + repetition filters on the deduped survivors (evaluating
   them first would waste compute on rows dedup is about to drop);
5. decontamination LAST — its verdict depends only on content, but
   running it on the smallest surviving set minimizes the map-side
   join work (operators/decontam).

All stages are declarative DataFrame transforms; the composition adds
no collect, no UDF beyond its members' own, and no shuffle the stages
don't already need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.8,
    shingle_n: int = 3,
    decontam_n: int = 13,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """The hygiene chain: returns the cleaned corpus (original columns,
    ``text_col`` NFC-normalized) plus a ``kept_reason``-free contract —
    every surviving row passed normalization, exact dedup (min-id
    survivor), near-dup dedup (min-id survivor per LSH group), the
    quality floor, and (when ``benchmark`` is given) decontamination.

    Constructing the returned DataFrame runs the staging jobs of the
    normalized and exact-deduped frames (and of the LSH stage's
    shingle frame): each is read by several subplans, so it is staged
    where it is built (see ``operators.dedup`` for the rule and its
    executor-loss trade).
    """
    from platypus_ingestion_plugins_spark.functions.text import (
        normalize_unicode,
        quality_score,
    )
    from platypus_ingestion_plugins_spark.operators import decontam, dedup

    # staged: the exact-dedup aggregate, its semi-join back and the
    # whole near-dup subchain all read it, and the Arrow unicodedata
    # UDF is the chain's priciest map stage
    normed = docs.withColumn(
        text_col, normalize_unicode(text_col)
    ).localCheckpoint(eager=True)

    # exact: keep each content group's min-id row
    survivors = (
        normed.groupBy(F.sha2(F.col(text_col), 256).alias("__sha"))
        .agg(F.min(id_col).alias(id_col))
        .drop("__sha")
    )
    # staged: it feeds the LSH pair generation, the CC node set and the
    # survivor semi-join
    deduped = normed.join(survivors, id_col, "left_semi").localCheckpoint(eager=True)

    # near-dup: LSH pairs -> components -> keep group minimum
    # at corpus scale SET max_shingle_df: one boilerplate phrase shared
    # by 10^6 docs is 10^12 candidate pairs without the hot-key cap,
    # which bounds the gram fan-out
    pairs = dedup.minhash_lsh_dedup_pairs(
        deduped, text_col, id_col, n=shingle_n,
        threshold=near_dup_threshold, max_shingle_df=max_shingle_df,
    )
    groups = dedup.connected_components_star(
        pairs, nodes=deduped.select(id_col), id_col=id_col
    )
    keep = groups.filter(F.col(id_col) == F.col("group_id")).select(id_col)
    deduped = deduped.join(keep, id_col, "left_semi")

    cleaned = deduped.filter(quality_score(text_col) >= min_quality)

    if benchmark is not None:
        # the benchmark must be in the SAME normal form as the corpus,
        # or composed-vs-decomposed spellings slip past the gram match
        # — the exact leak rule 1 exists to close
        bench = benchmark.withColumn(text_col, normalize_unicode(text_col))
        cleaned = decontam.decontaminate(
            cleaned, bench, text_col, id_col, n=decontam_n
        )
    return cleaned


def curate_pretraining_mix(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    min_quality: float = 0.6,
    min_gopher_rules: int = 7,
    salt: str = "interleave",
) -> DataFrame:
    """The SELECTION/ORDERING chain — ``clean_corpus`` is hygiene
    (dedup + decontam); this is what comes after: turn a clean corpus
    into an ordered, budgeted, mixture-balanced training set.

    1. rule gate: keep docs passing >= ``min_gopher_rules`` of the
       seven Gopher heuristics (7 = strict conjunction; lower it for
       corpora whose vocabulary legitimately fails a rule — e.g. the
       stop-word rule on non-English or domain-specific text);
    2. quality floor: ``quality_score`` rounded to 6 dp (the ranking
       convention) must clear ``min_quality``;
    3. budget fill: ``select_token_budget`` PER DOMAIN, priority =
       the rounded quality — each domain's budget goes to its best
       documents first, strict-prefix contract;
    4. order: ``stratified_interleave`` on the domain, so any prefix
       of the final order carries every domain proportionally.

    Output: (id, domain, n_tokens, quality, interleave_num,
    interleave_den, interleave_pos) — feed it to ``shuffle_shards``-
    family exporters sorted by (interleave_pos, domain, id).

    Every stage is an independently oracle-verified primitive; the
    composition adds one join (the rule flags), one window per stage
    it already owns, and NOTHING driver-side. Like the members, the
    whole chain is a pure function of (data, salt) — the oracle
    replays it end to end.
    """
    from platypus_ingestion_plugins_spark.functions.sampling import (
        select_token_budget,
        stratified_interleave,
    )
    from platypus_ingestion_plugins_spark.functions.text import (
        gopher_rule_exprs,
        quality_score,
        token_count,
    )

    # rule gate INLINE on the corpus (r11 review 3rd pass #3): the
    # rules are pure per-row expressions, so gating is a map-only
    # filter riding the scan — the flag-frame + semi-join form paid a
    # corpus-sized hash exchange for a projection
    n_pass = sum(
        v.cast("int") for v in gopher_rule_exprs(text_col).values()
    )
    base = (
        docs.filter(n_pass >= min_gopher_rules)
        .withColumn("quality", F.round(quality_score(text_col), 6))
        .filter(F.col("quality") >= min_quality)
        .withColumn("n_tokens", token_count(text_col))
        .select(id_col, domain_col, "n_tokens", "quality")
    )
    sel = select_token_budget(
        base,
        id_col,
        "n_tokens",
        budget_tokens,
        by=domain_col,
        priority_col="quality",
    )
    return stratified_interleave(sel, id_col, domain_col, salt)
