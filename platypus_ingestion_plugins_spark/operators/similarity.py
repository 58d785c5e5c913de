"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; sign-bit IVF/LSH
bucketing as the scale path (candidates only from the query's bucket,
so the expensive dot products touch ~1/2^bits of the corpus). The dot
product is a single `aggregate` over `zip_with` — JVM-side, no Python.

At 100 TB the pattern holds: bucket id is a cheap projection computed
at write time and used as a partition column, so ANN probes become
partition-pruned scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from platypus_ingestion_plugins_spark.session import ensure_parallelism


def _dvec(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product. With ``dim`` known at plan time the sum is unrolled
    into a flat left-to-right addition chain — whole-stage-codegen'd,
    ~10x faster than the interpreted higher-order aggregate, and
    numerically identical (same sequential order)."""
    if dim:
        da, db = _dvec(a), _dvec(b)
        acc = F.element_at(da, 1) * F.element_at(db, 1)
        for i in range(2, dim + 1):
            acc = acc + F.element_at(da, i) * F.element_at(db, i)
        return acc
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    if dim:
        da = _dvec(a)
        acc = F.element_at(da, 1) * F.element_at(da, 1)
        for i in range(2, dim + 1):
            acc = acc + F.element_at(da, i) * F.element_at(da, i)
        return F.sqrt(acc)
    return F.sqrt(F.aggregate(_dvec(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def late_interaction_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int,
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    qpos_col: str = "qpos",
    dim: int | None = None,
) -> DataFrame:
    """Late-interaction / MaxSim retrieval (ColBERT, Khattab &
    Zaharia 2020 — NEW r15): documents carry one embedding PER TOKEN
    (``doc_tokens``: one row per (doc, token vector)), the query
    carries one per query token, and the score is

        MaxSim(q, d) = sum over query tokens t of
                       max over doc tokens v of cos(t, v)

    — the retrieval scorer for RAG stacks where single-vector cosine
    loses token-level matching. Exact top-``k`` by (maxsim desc,
    doc id): per-token cosines round to 6dp BEFORE the max (the
    oracle replays the same order), maxsim rounds the sum.

    Plan shape: the query side is query-token-bounded and BROADCAST;
    the corpus side expands map-side to |doc tokens| x |query tokens|
    cosine rows, then two partial-aggregatable aggregations (max per
    (doc, query token), sum per doc) and a distributed TakeOrdered —
    the corpus shuffles only grouped maxima, never raw token
    vectors. The scale path bucket-prunes doc tokens first (sign-LSH
    or IVF on token vectors) and hands survivors here."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = F.broadcast(
        query_tokens.select(
            F.col(qpos_col).alias("__qp"), F.col(vec_col).alias("__qv")
        )
    )
    per_qtoken = (
        ensure_parallelism(doc_tokens)
        .crossJoin(q)
        .select(
            F.col(doc_col),
            F.col("__qp"),
            F.round(cosine(F.col(vec_col), F.col("__qv"), dim), 6).alias(
                "__cos"
            ),
        )
        .groupBy(doc_col, "__qp")
        .agg(F.max("__cos").alias("__best"))
    )
    return (
        per_qtoken.groupBy(doc_col)
        .agg(F.round(F.sum("__best"), 6).alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), F.col(doc_col))
        .limit(k)
    )


def brute_force_topk(
    emb: DataFrame, query: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query DataFrame.

    The query side is broadcast (1 row), so this is a map-only pass
    over the corpus followed by a global top-k (Spark's TakeOrdered) —
    no shuffle of the corpus itself."""
    q = F.broadcast(query.select(F.col(vec_col).alias("__qvec")))
    return (
        ensure_parallelism(emb).crossJoin(q)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec"), dim), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def signbit_bucket(vec_col: Column, bits: int = 4) -> Column:
    """IVF-style coarse bucket: sign bits of the first ``bits`` dims."""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(F.element_at(_dvec(vec_col), i + 1) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return b.cast("int")


def signbit_band_keys(vec_col: Column, bits: int = 8, bands: int = 4) -> Column:
    """Banded sign-LSH keys: band ``b`` hashes dims [b*bits, (b+1)*bits)
    into a sign-bit bucket, offset so keys are globally unique per band.
    Two vectors are candidates iff they share ANY band key (OR-of-bands,
    the same band-amplification trick as MinHash-LSH) — much higher
    recall than requiring all sign bits equal at once.

    Dims beyond the vector length contribute bit 0 on both sides
    (``F.get`` returns NULL out of range; the ``when`` falls through),
    so short vectors are handled consistently."""
    dv = _dvec(vec_col)
    keys = []
    for band in range(bands):
        acc = F.lit(band * (1 << bits))
        for i in range(bits):
            acc = acc + F.when(F.get(dv, band * bits + i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        keys.append(acc.cast("int"))
    return F.array(*keys)


def ann_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's sign-bit
    bucket only. Recall < 1 by design; the bucket filter is a cheap
    projection that partition-prunes when the corpus is written
    partitioned by bucket."""
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qvec"),
            signbit_bucket(F.col(vec_col), bits).alias("__qbucket"),
        )
    )
    return (
        ensure_parallelism(emb).withColumn("__bucket", signbit_bucket(F.col(vec_col), bits))
        .join(q, F.col("__bucket") == F.col("__qbucket"))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec"), dim), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ann_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    bits: int = 4,
    dim: int | None = None,
    merge_groups: int = 4096,
) -> DataFrame:
    """Batched sign-bucket ANN: per query, exact cosine within the
    query's sign-bit bucket only — ``ann_topk`` generalized to a query
    SET so an evaluation sweep costs ONE corpus pass instead of one
    scan per query. Queries broadcast with their buckets; the corpus
    joins on bucket equality (broadcast hash join — each corpus row is
    scored only against same-bucket queries, never the cross product),
    then the salted two-phase top-k merge (``_topk_per_query``) ranks
    per query on the rounded cosine with id tie-break, so no window
    funnels a bucket through one reducer. Output: (q_id, id, cos_sim,
    ann_rank 1..k)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(q_id_col),
            _dvec(F.col(vec_col)).alias("__qvec"),
            signbit_bucket(F.col(vec_col), bits).alias("__qbucket"),
        )
    )
    scored = (
        ensure_parallelism(emb)
        .withColumn("__bucket", signbit_bucket(F.col(vec_col), bits))
        .join(q, F.col("__bucket") == F.col("__qbucket"))
        .select(
            F.col(q_id_col),
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec"), dim), 6).alias(
                "cos_sim"
            ),
        )
    )
    return _topk_per_query(scored, k, q_id_col, id_col, merge_groups, "ann_rank")


def ann_recall_eval(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    bits: int = 4,
    dim: int | None = None,
    merge_groups: int = 4096,
) -> DataFrame:
    """Recall@k of the sign-bucket ANN against exact brute force for a
    query SET, fused into ONE corpus scan: each scored row carries a
    same-bucket flag, and the salted two-phase merge keeps TWO top-k
    arrays per (query, salt) group — the exact list over all rows and
    the ANN list over same-bucket rows (``collect_list`` over a
    ``when`` drops the null non-candidates) — so the evaluation costs
    one scan + two bounded shuffles instead of two scans and four
    top-k subplans (composing ``knn_join`` + ``ann_topk_batch`` +
    ``recall_at_k`` measures ~3x slower at sf0.1, all fixed stage
    overhead). The final recall is a pure array expression:
    ``n_hit = |exact_ids ∩ ann_ids|``. Ranking is (rounded cosine
    desc, id asc), identical to ``knn_join``/``ann_topk``. Output:
    (q_id, n_exact, n_hit, recall)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(q_id_col),
            _dvec(F.col(vec_col)).alias("__qvec"),
            signbit_bucket(F.col(vec_col), bits).alias("__qbucket"),
        )
    )
    key = F.struct((-F.col("cos_sim")).alias("nc"), F.col(id_col).alias("i"))
    scored = (
        ensure_parallelism(emb)
        .withColumn("__bucket", signbit_bucket(F.col(vec_col), bits))
        .crossJoin(q)
        .select(
            F.col(q_id_col),
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec"), dim), 6).alias(
                "cos_sim"
            ),
            (F.col("__bucket") == F.col("__qbucket")).alias("__same"),
        )
    )
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(merge_groups)).cast(
        "int"
    )
    local = (
        scored.withColumn("__s", salt)
        .groupBy(q_id_col, "__s")
        .agg(
            F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("__e"),
            F.slice(
                F.array_sort(F.collect_list(F.when(F.col("__same"), key))),
                1,
                k,
            ).alias("__a"),
        )
    )
    merged = local.groupBy(q_id_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__e"))), 1, k).alias(
            "__e"
        ),
        F.slice(F.array_sort(F.flatten(F.collect_list("__a"))), 1, k).alias(
            "__a"
        ),
    )
    ids = lambda c: F.transform(F.col(c), lambda x: x["i"])  # noqa: E731
    return merged.select(
        F.col(q_id_col),
        F.size("__e").cast("long").alias("n_exact"),
        F.size(F.array_intersect(ids("__e"), ids("__a")))
        .cast("long")
        .alias("n_hit"),
        F.round(
            F.size(F.array_intersect(ids("__e"), ids("__a"))).cast("double")
            / F.size("__e"),
            6,
        ).alias("recall"),
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    Centroids broadcast; the scored frame is reduced with a map-side
    ``max_by`` partial aggregate (no window shuffle of the x-centroid
    blowup — the shuffle carries one row per vector). Ties go to the
    smallest centroid id, so assignment is deterministic.
    Output: (id, vec, cent_id).

    The scoring cosine always uses the higher-order aggregate dot, NOT
    the ``dim``-unrolled chain: replicated per centroid on the join
    path, the unrolled expression blows whole-stage-codegen limits and
    runs ~5x slower (measured 5.8s vs 1.3s at sf0.1, the same failure
    mode as neardup_pairs)."""
    from pyspark.sql import Window

    # a dense ordinal over the (tiny) centroid set makes the smallest-id
    # tie-break type-agnostic: string/int/bigint centroid ids all order
    # the same way, and max_by never negates the id itself
    cents = F.broadcast(
        centroids.select(
            F.col(id_col).alias("cent_id"), _dvec(F.col(vec_col)).alias("__cvec")
        ).withColumn("__ord", F.row_number().over(Window.orderBy("cent_id")))
    )
    scored = ensure_parallelism(emb).crossJoin(cents).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cent_id"),
        F.col("__ord"),
        cosine(F.col(vec_col), F.col("__cvec"), dim=None).alias("__sim"),
    )
    return scored.groupBy(id_col).agg(
        F.first(vec_col).alias(vec_col),
        F.max_by("cent_id", F.struct(F.col("__sim"), -F.col("__ord"))).alias("cent_id"),
    )


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-6,
) -> DataFrame:
    """Train IVF centroids with Lloyd's iterations as DataFrame ops.

    Per iteration: (1) assign every vector to its nearest centroid by
    cosine (ivf_assign — broadcast centroids, map-side ``max_by``, one
    shuffle carrying one row per vector), (2) recompute each centroid
    as the element-wise mean of its members (posexplode ->
    groupBy(cent, pos) avg -> re-assemble). The centroid set is
    O(n_centroids * dim) — independent of corpus size — so each
    round's result is collected to the driver and re-broadcast, the
    same bounded synchronization step MLlib's KMeans takes; nothing
    corpus-sized ever leaves the executors and no caching is needed
    (each round is one self-contained job over the corpus).

    ``iters`` is a maximum: training stops early once the largest
    element-wise centroid movement drops below ``tol`` (the standard
    Lloyd's convergence test, checked driver-side on the O(k*dim)
    centroid set — corpora that converge in 2 rounds don't pay for 5
    full-corpus passes). ``tol=0`` restores fixed-iteration behavior.

    Deterministic: seeded from the ``n_centroids`` lowest-id vectors,
    ties in assignment go to the smallest centroid id, the mean is
    computed with Spark's fixed-order avg over a sorted reassembly,
    and the convergence test compares exact driver-side doubles — the
    same inputs always stop at the same round with the same output.
    Empty clusters keep their previous centroid. Output: one row per
    centroid, (id_col = the centroid's seed-vector id — same type as
    the input id column, vec_col = array<double>).

    Reference parity: the reference has no ANN surface; this is the
    trainer the ivf_topk docstring promises ("pass centroids (e.g.
    k-means output) for production recall").
    """
    spark = emb.sparkSession
    cents = emb.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col), _dvec(F.col(vec_col)).alias(vec_col)
    )
    # derive the id field's type from the input frame — a string/int
    # vec-id corpus must not come back with silently-bigint centroids
    id_ddl = emb.schema[id_col].dataType.simpleString()
    schema = (
        f"{_quote(id_col)} {id_ddl}, {_quote(vec_col)} ARRAY<DOUBLE>"
    )
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        means = (
            assigned.select(
                "cent_id", F.posexplode(_dvec(F.col(vec_col))).alias("__pos", "__x")
            )
            .groupBy("cent_id", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s["__m"],
                ).alias("__mean")
            )
        )
        # keep the previous centroid for clusters that lost every member
        rows = {r[0]: list(r[1]) for r in means.collect()}
        prev = [(r[0], list(r[1])) for r in cents.collect()]
        nxt = [(cid, rows.get(cid, vec)) for cid, vec in prev]
        moved = max(
            (
                abs(x - y)
                for (_, v_new), (_, v_old) in zip(nxt, prev)
                for x, y in zip(v_new, v_old)
            ),
            default=0.0,
        )
        cents = spark.createDataFrame(nxt, schema)
        if moved < tol:
            break
    return cents


def _quote(name: str) -> str:
    return f"`{name}`"


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: the corpus is partitioned into inverted
    lists by nearest centroid; the query probes only its ``nprobe``
    closest lists, so the exact cosine touches ~nprobe/n_centroids of
    the corpus.

    Default centroids are the ``n_centroids`` lowest-id vectors — a
    deterministic, oracle-reproducible seed; pass ``centroids`` (e.g.
    k-means output) for production recall. At 100 TB the assignment is
    computed once at write time and the table is partitioned by
    cent_id, making each probe a partition-pruned scan (the same
    manifest-level skip as the modulo shard, SURVEY §2.4) — that
    layout is ``write_ivf_partitioned`` + ``ivf_topk_partitioned``,
    with an input-file-pruning test mirroring the shard test's.

    All cosines use the higher-order aggregate dot: measured at sf0.1,
    the dim-unrolled chain evaluated after the probe joins falls out of
    codegen and runs ~5x slower (6.3s vs 1.3s end-to-end)."""
    cents = centroids if centroids is not None else emb.orderBy(id_col).limit(n_centroids)
    assigned = ivf_assign(emb, cents, id_col, vec_col)
    q = query.select(_dvec(F.col(vec_col)).alias("__qvec"))
    probe = (
        q.crossJoin(
            F.broadcast(
                cents.select(
                    F.col(id_col).alias("cent_id"), _dvec(F.col(vec_col)).alias("__cvec")
                )
            )
        )
        .select("cent_id", cosine(F.col("__qvec"), F.col("__cvec")).alias("__sim"))
        .orderBy(F.col("__sim").desc(), F.col("cent_id"))
        .limit(nprobe)
        .select("cent_id")
    )
    return (
        assigned.join(F.broadcast(probe), "cent_id")
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    dim: int | None = None,
    merge_groups: int = 4096,
) -> DataFrame:
    """Batch k-NN: for EVERY query vector, its top-k corpus neighbors
    by cosine — the all-queries generalization of brute_force_topk
    (cross-dataset dedup, retrieval eval, hard-negative mining).

    Queries broadcast (the small side); scoring is one map-only pass
    over the corpus. The per-query top-k is a two-phase merge:

    - Phase 1 groups scored rows into ``merge_groups`` salted groups
      per query and keeps each group's local top-k. Its exchange moves
      every scored row ONCE, but spread over queries x merge_groups
      keys — no hotspot, and each post-shuffle group materializes only
      ~|corpus|/merge_groups rows (bounded arrays; raise merge_groups
      for bigger corpora).
    - Phase 2's exchange is bounded: merge_groups x queries x k rows.

    The alternative — a window row_number partitioned by query — funnels
    the ENTIRE corpus through one reducer per query for a corpus-sized
    sort; with few queries that is a single-machine bottleneck no
    cluster size fixes. The salt is only a load-spreading device: the
    top-k merge is lossless under any grouping, so the result is
    independent of it (asserted by the repartition-invariance test).

    Ranking is on the ROUNDED cosine (6 dp) with id tie-break, so
    results are engine-reproducible. Output: (q_id, id, cos_sim,
    knn_rank 1..k)."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias(q_id_col), _dvec(F.col(vec_col)).alias("__qvec"))
    )
    scored = ensure_parallelism(corpus).crossJoin(q).select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec"), dim), 6).alias("cos_sim"),
    )
    return _topk_per_query(scored, k, q_id_col, id_col, merge_groups, "knn_rank")


def _topk_per_query(
    scored: DataFrame,
    k: int,
    q_id_col: str,
    id_col: str,
    merge_groups: int,
    rank_col: str,
) -> DataFrame:
    """The salted two-phase per-query top-k merge shared by knn_join
    and hard_negatives (docstring economics in ``knn_join``): input is
    (q_id, id, cos_sim) scored rows; output (q_id, id, cos_sim,
    rank 1..k) by (cos desc, id)."""
    key = F.struct((-F.col("cos_sim")).alias("nc"), F.col(id_col).alias("i"))
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(merge_groups)).cast("int")
    local = (
        scored.withColumn("__s", salt)
        .groupBy(q_id_col, "__s")
        .agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("__top"))
    )
    return (
        local.select(q_id_col, F.explode("__top").alias("s"))
        .groupBy(q_id_col)
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("__top"))
        .select(q_id_col, F.posexplode("__top").alias("__r", "s"))
        .select(
            q_id_col,
            F.col("s.i").alias(id_col),
            # −(−cos): adding 0.0 normalizes IEEE −0.0 so string-level
            # oracle compares don't see a sign on zero
            (-F.col("s.nc") + F.lit(0.0)).alias("cos_sim"),
            (F.col("__r") + 1).alias(rank_col),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    dim: int | None = None,
    merge_groups: int = 4096,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor, the ``k`` most-similar corpus vectors whose LABEL differs
    from the anchor's (and which are not the anchor itself) — the
    near-misses that actually move an embedding model, vs. easy
    random negatives. Output: (q_id, id, cos_sim, neg_rank 1..k).

    The label predicate applies BEFORE ranking (an after-the-fact
    filter on a plain top-k would return < k negatives whenever the
    anchor's own class dominates its neighborhood — exactly the case
    hard mining exists for). Plan shape = knn_join verbatim: anchors
    broadcast, one map-side scoring pass over the corpus, the salted
    two-phase top-k merge; no window funnels the corpus through one
    reducer per anchor."""
    # NULL labels carry no class information, so they can certify
    # NOTHING as a negative: NULL-labeled corpus rows and anchors are
    # excluded EXPLICITLY (not left to null-unsafe != silently
    # emptying results — r12 review #4). Callers mining a partially
    # labeled corpus should label or pre-filter first.
    q = F.broadcast(
        anchors.filter(F.col(label_col).isNotNull()).select(
            F.col(id_col).alias(q_id_col),
            F.col(label_col).alias("__qlabel"),
            _dvec(F.col(vec_col)).alias("__qvec"),
        )
    )
    scored = (
        ensure_parallelism(corpus)
        .filter(F.col(label_col).isNotNull())
        .crossJoin(q)
        .filter(
            (F.col(label_col) != F.col("__qlabel"))
            & (F.col(id_col) != F.col(q_id_col))
        )
        .select(
            F.col(q_id_col),
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec"), dim), 6).alias(
                "cos_sim"
            ),
        )
    )
    return _topk_per_query(scored, k, q_id_col, id_col, merge_groups, "neg_rank")


def write_ivf_partitioned(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the write-time IVF layout ``ivf_topk`` promises:
    assignment is computed ONCE (ivf_assign — broadcast centroids,
    map-side max_by) and the table lands partitioned by ``cent_id``,
    so every probe is a partition-pruned scan reading only its probed
    lists' directories — the same manifest-level file skip as the
    modulo shard (ModuloShardingStrategy.java:129-146), applied to the
    ANN axis. At 100 TB this turns each query from a full-corpus scan
    into ~nprobe/n_centroids of the files."""
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cent_id").parquet(path)


def _centroids_fingerprint(
    centroids: DataFrame, id_col: str, vec_col: str
) -> str:
    """sha256 of the canonicalized (id, vector) centroid set — the
    O(k*dim) identity the incremental layout pins, same bounded sync
    as kmeans training."""
    import hashlib
    import json

    rows = centroids.select(
        F.col(id_col), _dvec(F.col(vec_col)).alias("__v")
    ).collect()
    canon = json.dumps(
        sorted((str(r[0]), [float(x) for x in r["__v"]]) for r in rows)
    )
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()


def append_ivf_partitioned(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    auto_compact_max_files: int | None = None,
) -> None:
    """Incremental ingest into the write-time IVF layout: new vectors
    assign against the SAME pinned centroids and append into their
    ``cent_id=`` directories — the ANN-axis twin of
    ``append_band_key_index``. The repartition puts each touched list
    in one task, so a batch adds at most one file per directory (file
    count grows with batches, not batch size; compact with
    ``compact_ivf_partitioned``).

    The centroid set IS the on-disk layout: a later append against
    different centroids would scatter the same vector population
    across two assignment schemes, and probes (which rank the
    CURRENT centroids) would silently miss matches filed under the
    old ones. So the centroid fingerprint is pinned in a
    ``_centroids_sha`` sidecar BEFORE the first data write (an index
    holding data is always pinned) and any mismatched append fails
    loudly — re-train centroids by rewriting the layout
    (``write_ivf_partitioned``), not by appending.

    ``auto_compact_max_files`` (VERDICT r9 task #5): before this
    batch's vectors land, any ``cent_id=`` list fragmented past the
    threshold is rewritten via ``compact_ivf_partitioned`` — file
    count per list plateaus at threshold+1 across unbounded ingest
    batches. Listing cost is bounded by centroid count (fixed layout);
    vectors are append-idempotent under the compactor's
    ``dropDuplicates``, so mid-stream compaction is safe: the old and
    new files a crashed compaction leaves side by side read the same,
    and the next compaction folds them."""
    from .. import fs as _fs

    spark = emb.sparkSession
    marker = f"{path}/_centroids_sha"
    fp = _centroids_fingerprint(centroids, id_col, vec_col)
    pinned = _fs.read_text(spark, marker) if _fs.exists(spark, marker) else None
    if pinned is not None and pinned != fp:
        raise ValueError(
            f"IVF layout at {path} is pinned to a different centroid set "
            f"({pinned[:12]}… != {fp[:12]}…); rewrite the layout to re-train"
        )
    if pinned is None:
        _fs.write_text_atomic(spark, marker, fp)
    if auto_compact_max_files is not None and _fs.exists(spark, path):
        compact_ivf_partitioned(
            spark, path, max_files_per_dir=auto_compact_max_files
        )
    (
        ivf_assign(emb, centroids, id_col, vec_col)
        .repartition("cent_id")
        .write.mode("append")
        .partitionBy("cent_id")
        .parquet(path)
    )


def compact_ivf_partitioned(
    spark, path: str, max_files_per_dir: int = 4
) -> list[str]:
    """Rewrite fragmented ``cent_id=`` list directories to one file
    each — ``compact_band_key_index``'s protocol one level deep
    (``dedup.compact_partition_dirs``: one partition-pruned job with
    ``dropDuplicates`` appends the new files, then the old ones are
    deleted; no rename). Run between ingest batches: no appender may
    write the lists meanwhile. Returns the directories rewritten."""
    from .dedup import compact_partition_dirs

    return compact_partition_dirs(spark, path, ("cent_id",), max_files_per_dir)


def ivf_probe_scan(
    spark,
    path: str,
    centroids: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """The partition-pruned scan of an IVF table written by
    ``write_ivf_partitioned``: only the query's ``nprobe`` nearest
    lists' directories are read.

    The nearest centroids are ranked driver-side from the O(k*dim)
    centroid set (the same bounded synchronization kmeans training
    takes; nothing corpus-sized is collected), so the probe becomes a
    LITERAL ``cent_id IN (...)`` over the partition column —
    Catalyst's PruneFileSourcePartitions drops the other lists'
    directories before any data file is opened. Ranking ties break
    toward the smaller centroid id, mirroring ivf_topk's
    ``orderBy(sim desc, cent_id)``."""
    qrows = query.select(_dvec(F.col(vec_col)).alias("v")).take(2)
    if len(qrows) != 1:
        raise ValueError(
            f"ivf_probe_scan expects exactly one query row, got "
            f"{'none' if not qrows else '2+'} — probe per query, or use "
            f"knn_join for query sets"
        )
    qv = [float(x) for x in qrows[0]["v"]]
    cents = [
        (r[0], [float(x) for x in r[1]])
        for r in centroids.select(F.col(id_col), _dvec(F.col(vec_col))).collect()
    ]

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return d / (na * nb) if na and nb else 0.0

    probe_ids = [cid for cid, v in sorted(cents, key=lambda cv: (-cos(qv, cv[1]), cv[0]))[:nprobe]]
    return spark.read.parquet(path).filter(F.col("cent_id").isin(probe_ids))


def ivf_topk_partitioned(
    spark,
    path: str,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Exact cosine top-k over the partition-pruned probe scan — the
    query path of the materialized IVF layout (see ``ivf_probe_scan``
    for how the pruning works)."""
    q = F.broadcast(query.select(_dvec(F.col(vec_col)).alias("__qvec")))
    return (
        ivf_probe_scan(spark, path, centroids, query, id_col, vec_col, nprobe)
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    spread: bool = True,
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = 127/max|x|,
    q_i = floor(x_i * scale + 0.5) in [-127, 127].

    The 100 TB lever for similarity search: a 64-dim float32 vector is
    256 B, its int8 twin 64 B — 4x less scan I/O, shuffle, and cache
    for candidate scoring, with exact re-ranking reserved for the
    top-k survivors. floor(x+0.5) rather than round(): identical
    half-up behavior in every engine (SQL round() ties differ).
    Cosine on quantized vectors is scale-free (the per-vector scales
    cancel), so qvec alone supports scoring; scale is kept for
    de-quantizing dot products. Output: (id, qvec array<int>, qscale).
    """
    dv = _dvec(F.col(vec_col))
    maxabs = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-12))
    qv = F.transform(dv, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    src = ensure_parallelism(df) if spread else df
    return src.select(F.col(id_col), qv.alias("qvec"), scale.alias("qscale"))


def _qdot(a: Column, b: Column) -> Column:
    """Integer dot product of two quantized vectors (long accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors.

    Same map-only + TakeOrdered shape as brute_force_topk, but the
    scored column is the integer qvec — the shape a quantized vector
    store scans. qcos = qdot/sqrt(|qa|^2*|qb|^2); the per-vector
    scales cancel, so no de-quantization happens at all."""
    qc = quantize(emb, id_col, vec_col)
    qq = F.broadcast(
        quantize(query, id_col, vec_col, spread=False).select(F.col("qvec").alias("__qq"))
    )
    return (
        qc.crossJoin(qq)
        .select(
            F.col(id_col),
            F.round(
                _qdot(F.col("qvec"), F.col("__qq"))
                / F.sqrt(
                    (_qdot(F.col("qvec"), F.col("qvec"))
                     * _qdot(F.col("__qq"), F.col("__qq"))).cast("double")
                ),
                6,
            ).alias("qcos_sim"),
        )
        .orderBy(F.col("qcos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    bands: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.

    Default (bits>0): banded sign-LSH blocking — each vector explodes
    into ``bands`` band keys (``bits`` sign bits each over disjoint
    dims); only pairs sharing >=1 band key are verified with the exact
    cosine. Candidate volume is sum over buckets of |bucket|^2, i.e.
    ~bands/2^bits of n^2 for spread-out data — at 10^9 vectors the
    blocked join shuffles by band key and never materializes n^2.
    bits=0 keeps the exact all-pairs crossJoin (small corpora only).

    Norms are computed once per vector BEFORE the pair join (n ops,
    not n^2). The per-pair dot uses the higher-order aggregate, NOT
    the ``dim``-unrolled chain: a 64-term unrolled expression on the
    join path blows whole-stage-codegen limits and runs ~8x slower
    (measured 7.9s vs 1.0s at sf0.1); ``dim`` only unrolls the
    map-side norm."""
    base = ensure_parallelism(emb).select(
        F.col(id_col).alias("__id"),
        _dvec(F.col(vec_col)).alias("__v"),
        norm(F.col(vec_col), dim).alias("__n"),
    )
    if bits:
        # Blocking join and pair-dedup carry BARE IDS only: a candidate
        # pair that shares several band keys is deduplicated on
        # (id_a, id_b) — two longs — and the ~1 KB vectors + norms are
        # re-attached afterwards with two n-sized joins against `base`.
        # Deduping with vectors attached would inflate the candidate
        # exchange ~60x (2 x 64 doubles per row); at 10^9 vectors the
        # candidate set dominates every other stage, so the fat shuffle
        # is the one to starve. Same cheap-kill-before-shuffle order as
        # the simhash path (dedup.py:simhash_neardup_pairs).
        keyed = base.select(
            "__id", F.explode(signbit_band_keys(F.col("__v"), bits, bands)).alias("__bk")
        )
        cand = (
            keyed.select(F.col("__id").alias("id_a"), "__bk")
            .join(keyed.select(F.col("__id").alias("id_b"), "__bk"), "__bk")
            .drop("__bk")
            .filter(F.col("id_a") < F.col("id_b"))
        )
        if bands > 1:
            # a pair can share several band keys; verify it once
            cand = cand.dropDuplicates(["id_a", "id_b"])
        pairs = cand.join(
            base.select(
                F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
            ),
            "id_a",
        ).join(
            base.select(
                F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
            ),
            "id_b",
        )
    else:
        a = base.select(
            F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
        )
        b = base.select(
            F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
        )
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    clusters: DataFrame | None = None,
    cluster_col: str = "cent_id",
    bits: int = 6,
    dim: int | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by cluster-scoped cosine pruning. Rows are grouped
    into clusters; within a cluster, a row is DROPPED iff some
    smaller-id row of the same cluster is cosine-similar above
    ``threshold`` (keep-min-id — one deterministic representative per
    semantic-duplicate chain). Returns the KEPT rows, all original
    columns.

    Cluster source:
      * ``clusters`` given — an (id, ``cluster_col``) frame, e.g.
        ``ivf_assign(emb, kmeans_centroids(...))`` — the paper's
        k-means clustering; the right choice at corpus scale where
        nlist ~ sqrt(n) bounds cluster sizes.
      * default — ``signbit_bucket(vec, bits)``: a zero-shuffle
        projection standing in for k-means; fine for small corpora
        and, unlike k-means, oracle-expressible. Mind skew: a hot
        bucket costs O(|bucket|^2) pairs — raise ``bits`` or switch
        to k-means clusters before that bites.

    ``clusters`` join semantics (deliberate, read before relying on
    them): the assignment frame is INNER-joined on ``id_col``, so a
    corpus row with NO cluster assignment is silently EXEMPT from
    dedup — it is always kept and never dominates anything. That is
    the safe failure direction (dedup is a recall optimization;
    keeping an extra row never corrupts), and it is also exactly what
    ``max_cluster_size`` exploits below — but if you expect total
    assignment coverage, anti-join your corpus against ``clusters``
    first and treat hits as a pipeline bug. A row assigned to SEVERAL
    clusters (duplicate ``id_col`` in ``clusters``) participates in
    every one of them: the pair stage inflates by the duplication
    factor and the row can be dominated through any of its clusters.
    One cluster per row is the contract; ``ivf_assign`` output
    satisfies it by construction (one ``max_by`` row per id).

    ``max_cluster_size`` — the hot-cluster skew guard. The pair stage
    is O(|cluster|^2) per cluster, so one hot cluster (correlated
    embeddings collapsing onto few sign patterns, or a degenerate
    k-means cell) turns into a single-task straggler: 10^6 rows in
    one bucket is 10^12 candidate pairs. With the cap set, clusters
    holding more than ``max_cluster_size`` rows are EXCLUDED from the
    pair join — their rows are all kept verbatim (the inner-join
    exemption above). That trades recall inside the hot cluster for a
    hard max_cluster_size^2 bound on per-cluster pair volume, the
    same df-cap trade ``dedup.cap_shingle_df`` makes for shingle
    blocking. The hot set is tiny by construction (at most
    n / max_cluster_size ids), so the exclusion anti-join broadcasts.
    ``None`` disables (exact cluster-scoped semantics,
    oracle-comparable). At corpus scale prefer k-means ``clusters``
    with nlist ~ sqrt(n) AND a cap: k-means bounds the typical cell,
    the cap bounds the worst one.

    Distinct from ``neardup_pairs``+connected-components
    (embedding_dedup_groups): SemDeDup never links across clusters,
    trades that recall for a bounded, embarrassingly-cluster-parallel
    pair stage, and returns the pruned corpus rather than group ids.

    Shuffles: one hash exchange of (id, vec, norm) per side on the
    cluster key for the pair join, bare-id distinct on the dominated
    set, and the final anti-join. Norms are computed map-side before
    the join (n ops, not n^2); the per-pair dot uses the higher-order
    aggregate (see neardup_pairs on why not the unrolled chain).
    """
    base = ensure_parallelism(emb).select(
        F.col(id_col).alias("__id"),
        _dvec(F.col(vec_col)).alias("__v"),
        norm(F.col(vec_col), dim).alias("__n"),
    )
    if clusters is not None:
        keyed = base.join(
            clusters.select(
                F.col(id_col).alias("__id"), F.col(cluster_col).alias("__cl")
            ),
            "__id",
        )
    else:
        keyed = base.withColumn("__cl", signbit_bucket(F.col("__v"), bits))
    if max_cluster_size is not None and max_cluster_size < 1:
        # truthiness would silently read 0 as "no cap" (r12 advice #5)
        raise ValueError(
            f"max_cluster_size must be >= 1 (got {max_cluster_size}) "
            "— a cap below 1 would exclude every cluster"
        )
    if max_cluster_size is not None:
        # hot-cluster exclusion: ids in over-sized clusters never enter
        # the O(|cluster|^2) pair join — they ride the inner-join
        # exemption (kept verbatim). The hot set is <= n/cap ids, so
        # broadcast; one count aggregate over bare (id, cluster) rows.
        hot = (
            keyed.groupBy("__cl")
            .agg(F.count(F.lit(1)).alias("__cn"))
            .filter(F.col("__cn") > max_cluster_size)
            .select("__cl")
        )
        keyed = keyed.join(F.broadcast(hot), "__cl", "left_anti")
    a = keyed.select(
        F.col("__id").alias("__ida"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__cl",
    )
    b = keyed.select(
        F.col("__id").alias("__idb"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__cl",
    )
    dominated = (
        a.join(b, "__cl")
        .filter(F.col("__ida") > F.col("__idb"))
        .select(
            "__ida",
            F.round(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
            ).alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    return emb.join(dominated, id_col, "left_anti")


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> columns — a
    zip_with/aggregate left-fold, index order, pure codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train(
    emb: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, list[float]]]:
    """Train a product-quantization codebook (Jégou et al. 2011):
    the vector splits into ``m`` contiguous subspaces of dim/m dims,
    each with its own ``n_codes``-entry codebook trained by L2
    Lloyd's. Returns the codebook as a bounded driver-side list of
    (subspace, code, centroid) — m * n_codes * dim/m doubles total,
    independent of corpus size (the kmeans_centroids bounded-collect
    convention; at production scale train on a deterministic sample,
    the quality_classifier sample-train/corpus-apply pattern).

    One corpus pass per iteration covers ALL subspaces jointly: the
    vectors explode to (sub, subvector) rows once, assignment is an
    array_min over (distance, code) structs against the broadcast
    literal codebook (smallest-code tie-break — deterministic), and
    the new centroids are one groupBy(sub, code, pos) mean. Seeds are
    the ``n_codes`` lowest-id vectors' subvectors; empty codes keep
    their previous centroid (the kmeans_centroids rule)."""
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    seed_rows = (
        emb.orderBy(id_col).limit(n_codes).select(vec_col).collect()
    )
    if len(seed_rows) < n_codes:
        raise ValueError(
            f"need >= {n_codes} vectors to seed the codebook, got {len(seed_rows)}"
        )
    cb = {
        (s, c): [float(x) for x in row[0][s * dsub : (s + 1) * dsub]]
        for c, row in enumerate(seed_rows)
        for s in range(m)
    }
    dv = _dvec(F.col(vec_col))
    for _ in range(iters):
        subs = emb.select(
            F.posexplode(
                F.array(
                    *[F.slice(dv, s * dsub + 1, dsub) for s in range(m)]
                )
            ).alias("sub", "subvec")
        )
        # per-code centroid literals indexed by subspace: CBLIT[c][sub]
        cands = F.array(
            *[
                F.struct(
                    _sq_l2(
                        F.col("subvec"),
                        F.element_at(
                            F.array(
                                *[
                                    F.array(*[F.lit(x) for x in cb[(s, c)]])
                                    for s in range(m)
                                ]
                            ),
                            F.col("sub") + 1,
                        ),
                    ).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c in range(n_codes)
            ]
        )
        assigned = subs.select(
            "sub", F.array_min(cands)["c"].alias("code"), "subvec"
        )
        means = (
            assigned.select(
                "sub", "code", F.posexplode("subvec").alias("pos", "x")
            )
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mean"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda st: st["mean"],
                ).alias("cvec")
            )
        )
        got = {(r["sub"], r["code"]): list(r["cvec"]) for r in means.collect()}
        cb = {k: got.get(k, v) for k, v in cb.items()}
    return [(s, c, cb[(s, c)]) for s in range(m) for c in range(n_codes)]


def _check_pq_codebook(
    codebook: list[tuple[int, int, list[float]]], dim: int, m: int, dsub: int
) -> None:
    """dim must agree with the codebook: a mismatched ``dim`` would
    slice misaligned subvectors whose zips silently truncate /
    NULL-pad into wrong distances rather than erroring (r12 review
    #1) — fail loudly at plan time instead."""
    if dim % m:
        raise ValueError(f"dim={dim} is not divisible by the codebook's m={m}")
    bad = [(s, c) for s, c, v in codebook if len(v) != dsub]
    if bad:
        raise ValueError(
            f"codebook centroids are not dim/m = {dsub} wide (e.g. {bad[0]}); "
            f"dim={dim} does not match this codebook"
        )


def pq_encode(
    emb: DataFrame,
    codebook: list[tuple[int, int, list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int>), codes[s] =
    argmin-L2 codebook entry of subspace s (smallest code on ties).
    The codebook rides in the plan as literals (bounded: it is
    n_codes * dim doubles), so encoding is ONE map-only codegen
    projection — no join, no shuffle, no Python. 4-8 bits per
    subspace instead of 4 bytes per dim is the memory step that makes
    billion-vector ANN serving fit RAM."""
    m = 1 + max(s for s, _, _ in codebook)
    dsub = dim // m
    _check_pq_codebook(codebook, dim, m, dsub)
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for s, c, v in codebook:
        by_sub.setdefault(s, []).append((c, v))
    dv = _dvec(F.col(vec_col))
    codes = []
    for s in range(m):
        sub = F.slice(dv, s * dsub + 1, dsub)
        cands = F.array(
            *[
                F.struct(
                    _sq_l2(sub, F.array(*[F.lit(x) for x in v])).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c, v in sorted(by_sub[s])
            ]
        )
        codes.append(F.array_min(cands)["c"])
    return emb.select(id_col, F.array(*codes).alias("codes"))


def pq_adc_topk(
    codes_df: DataFrame,
    codebook: list[tuple[int, int, list[float]]],
    query_vec: list[float],
    k: int,
    dim: int,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays
    full-precision, each database vector's distance is approximated by
    summing a per-(subspace, code) lookup table of squared L2
    distances computed ONCE from the query — the classic ADC search.
    Output (id, adc) — k smallest approximate distances, id
    tie-break.

    The LUT is m * n_codes doubles built driver-side (bounded), each
    entry rounded to 6 dp so the per-vector sum is a sum of
    6-dp-granular terms every engine reproduces; the final sum is
    rounded to 6 dp too. Plan: one map-only projection (LUT literals
    indexed by the codes array) + a distributed TakeOrdered — the
    corpus never shuffles."""
    m = 1 + max(s for s, _, _ in codebook)
    n_codes = 1 + max(c for _, c, _ in codebook)
    dsub = dim // m
    _check_pq_codebook(codebook, dim, m, dsub)
    if len(query_vec) != dim:
        # a short query would silently truncate the LUT zip — the same
        # misalignment class _check_pq_codebook guards on the codebook
        # side (r12 advice)
        raise ValueError(
            f"query_vec has {len(query_vec)} dims, expected {dim}"
        )
    lut = [[0.0] * n_codes for _ in range(m)]
    for s, c, v in codebook:
        q_sub = query_vec[s * dsub : (s + 1) * dsub]
        acc = 0.0
        for qx, cx in zip(q_sub, v):
            acc += (qx - cx) * (qx - cx)
        lut[s][c] = round(acc, 6)
    lut_lit = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in lut]
    )
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(
            F.element_at(lut_lit, s + 1),
            F.element_at(F.col(codes_col), s + 1) + 1,
        )
    return (
        codes_df.select(id_col, F.round(adc, 6).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_rerank(
    cands: DataFrame,
    query_vec: list[float],
    k: int,
    lam: float = 0.5,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998) — the retrieval diversifier: greedily pick the candidate
    maximizing lam * relevance - (1 - lam) * max-similarity-to-already-
    selected, so the result set covers the query's facets instead of
    returning k near-duplicates. Output: (id, mmr_rank 1..k, mmr).

    Scale shape: candidates stay DISTRIBUTED (MMR typically reranks an
    ANN shortlist, but nothing here requires the shortlist to fit the
    driver). Per round: relevance and the selected-set penalty are
    map-side expressions against LITERAL vectors (the selected set is
    <= k vectors — bounded like the PQ codebook), and the argmax is a
    distributed TakeOrdered(1); only the single winner row is
    collected per round — k bounded collects total, never the
    candidate set.

    Determinism: relevance and every pairwise similarity are rounded
    to 6 dp before the score arithmetic, ties break on id — the
    semdedup_kmeans convention, with the same documented ulp
    tolerance on exact score ties across engines."""
    if k < 1 or not 0.0 <= lam <= 1.0:
        raise ValueError(f"need k >= 1 and 0 <= lam <= 1, got {k}/{lam}")
    if dim is not None and len(query_vec) != dim:
        raise ValueError(
            f"query_vec has {len(query_vec)} dims, expected {dim}"
        )
    if not any(float(x) for x in query_vec):
        # all-zero query: every cosine is NaN, and NaN sorts LARGEST in
        # a desc orderBy — the "top" k would be arbitrary ids ranked by
        # NaN. Fail loudly instead.
        raise ValueError("query_vec has zero norm; cosine is undefined")
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    base = (
        ensure_parallelism(cands)
        .select(
            F.col(id_col),
            _dvec(F.col(vec_col)).alias("__v"),
        )
        # a NULL vector has no similarity to anything: its __rel/__mmr
        # would be NULL (sorting last), and if k exceeded the valid
        # candidates it would get PICKED and crash the next round's
        # literal build (r13 review #1) — exclude it up front
        .filter(F.col("__v").isNotNull())
        .withColumn("__rel", F.round(cosine(F.col("__v"), qlit, dim), 6))
        .localCheckpoint(eager=False)  # k rounds re-read this, not the scan
    )
    picked: list[tuple] = []  # (id, vec, mmr_score)
    for _ in range(k):
        rest = base
        for pid, _, _ in picked:
            rest = rest.filter(F.col(id_col) != pid)
        if picked:
            # ALWAYS the higher-order aggregate cosine here, never the
            # dim-unrolled chain: replicated once per picked literal
            # vector, the unrolled form blows the codegen/compile
            # budget (the ivf_assign failure mode — measured 30.5s ->
            # 4s at sf0.1 for k=4). Numerically identical: both sum
            # index order left-to-right.
            sims = [
                F.round(
                    cosine(
                        F.col("__v"),
                        F.array(*[F.lit(float(x)) for x in pv]),
                        dim=None,
                    ),
                    6,
                )
                for _, pv, _ in picked
            ]
            # greatest() requires >= 2 args; one selected vector IS the max
            pen = sims[0] if len(sims) == 1 else F.greatest(*sims)
        else:
            pen = F.lit(0.0)
        scored = rest.withColumn(
            "__mmr", F.round(F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * pen, 6)
        )
        row = (
            scored.orderBy(F.col("__mmr").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not row:
            break  # fewer candidates than k
        r = row[0]
        picked.append((r[id_col], list(r["__v"]), float(r["__mmr"])))
    spark = cands.sparkSession
    return spark.createDataFrame(
        [(pid, i + 1, score) for i, (pid, _, score) in enumerate(picked)],
        f"{id_col} {cands.schema[id_col].dataType.simpleString()}, "
        "mmr_rank int, mmr double",
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    id_col: str = "vec_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Recall of an approximate result set against the exact one —
    the evaluation loop every ANN deployment needs ("measure, don't
    guess"): per group (e.g. per query id), n_hit = |approx ∩ exact|,
    recall = n_hit / n_exact rounded 6dp. Output: (*group_cols,
    n_exact, n_hit, recall).

    Both inputs are top-k lists (bounded by construction), so the
    approx side broadcasts into a map-side left join against the
    exact list — no corpus-sized work here; the cost lives in the
    searchers being evaluated.

    The approx side is deduplicated on (group, id) before the join: a
    searcher that returns the same id twice would otherwise MULTIPLY
    the joined exact rows, silently inflating both n_exact and n_hit
    (r13 review #2). The exact side must be unique per (group, id) by
    contract — it is the ground-truth top-k list."""
    gc = list(group_cols or [])
    a = F.broadcast(
        approx.select(*gc, id_col)
        .dropDuplicates([*gc, id_col])
        .withColumn("__hit", F.lit(1))
    )
    joined = exact.select(*gc, id_col).join(a, [*gc, id_col], "left")
    agged = joined.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
    )
    return agged.withColumn(
        "recall",
        F.round(F.col("n_hit").cast("double") / F.col("n_exact"), 6),
    )


def ndcg_at_k(
    ranked: DataFrame,
    relevance: DataFrame,
    k: int,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Rank-aware retrieval quality: nDCG@k per query group —
    ``recall_at_k`` says whether the right documents came back, nDCG
    says whether they came back in the right ORDER.

        DCG@k  = sum_{rank<=k} (2^rel - 1) / log2(rank + 1)
        IDCG@k = the same sum over the query's judgments ideally
                 ordered (rel desc, id tie-break)
        nDCG   = DCG / IDCG,  NULL when the query has no relevant
                 judgment (0/0 is "undefined", not "perfect" or
                 "worst" — the caller decides how to aggregate).

    Inputs: ``ranked`` (q_id, id, rank 1..n) from any retrieval
    system; ``relevance`` (q_id, id, rel) integer graded judgments —
    qrels, bounded per query by construction (human/synthetic
    judgments, not the corpus), which is what makes the ideal-order
    window safe: it partitions by query over judgment-sized groups.
    Unjudged retrieved documents carry gain 0. DCG/IDCG/nDCG round to
    6 dp (log2 is the one double in the formula; sub-6dp ulps are the
    documented cross-engine tolerance). Output: (q_id, dcg, idcg,
    ndcg)."""
    from pyspark.sql import Window

    gain = F.pow(F.lit(2.0), F.col(rel_col)) - F.lit(1.0)
    hits = (
        ranked.filter(F.col(rank_col) <= k)
        .join(
            relevance.select(q_id_col, id_col, rel_col),
            [q_id_col, id_col],
            "left",
        )
        .withColumn("__g", F.coalesce(gain, F.lit(0.0)))
        .withColumn("__d", F.col("__g") / F.log2(F.col(rank_col) + 1))
    )
    dcg = hits.groupBy(q_id_col).agg(F.round(F.sum("__d"), 6).alias("dcg"))
    w = Window.partitionBy(q_id_col).orderBy(
        F.col(rel_col).desc(), F.col(id_col).asc()
    )
    ideal = (
        relevance.withColumn("__ir", F.row_number().over(w))
        .filter(F.col("__ir") <= k)
        .withColumn("__d", (F.pow(F.lit(2.0), F.col(rel_col)) - 1) / F.log2(F.col("__ir") + 1))
        .groupBy(q_id_col)
        .agg(F.round(F.sum("__d"), 6).alias("idcg"))
    )
    return (
        # FULL outer: a judged query the system returned NOTHING for
        # must surface as ndcg=0, not vanish from the output — dropped
        # worst-failures would inflate any mean over the rows (r12
        # review #3)
        dcg.join(ideal, q_id_col, "full")
        .withColumn("dcg", F.coalesce(F.col("dcg"), F.lit(0.0)))
        .withColumn(
            "ndcg",
            F.when(
                F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6)
            ),
        )
        .withColumn("idcg", F.coalesce(F.col("idcg"), F.lit(0.0)))
    )
