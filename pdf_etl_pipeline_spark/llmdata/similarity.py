"""Similarity search over embedding columns (north-star op set).

- ``cosine_topk`` — brute-force exact top-k: queries × corpus cross join,
  sequential-fold cosine, row_number per query. Exact but O(|Q|·|C|): the
  correctness baseline, and still the right tool when |Q| is small (the
  cross join broadcasts the query side so the corpus never shuffles).
- ``hyperplane_lsh_topk`` — the scale path: 8 deterministic pseudo-random
  hyperplanes → 256 sign buckets; candidates share the query's bucket;
  exact cosine re-rank inside the bucket. Sub-linear candidate sets at the
  cost of recall; bucket key is the shuffle key. An IVF variant is the same
  shape with learned centroids instead of hyperplanes.

Hyperplane components use the engine-portable hash so the DuckDB oracle
reproduces bucket assignment exactly: h[i][j] = (portable_hash32("i_j")
mod 2001 - 1000) / 1000 ∈ [-1, 1].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.dedup import (
    band_pairs,
    band_rows,
    cosine,
    cosine_sql,
    reported,
    verified,
)
from pdf_etl_pipeline_spark.llmdata.dedup import dot as dedup_dot
from pdf_etl_pipeline_spark.session import materialized

N_PLANES = 8
N_BANDS = 4
DIM = 64


def _plane_component(i: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1]."""
    import hashlib

    h = int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


# Two plane pools from one deterministic generator:
# - PLANES: the 8-plane / 256-bucket set the single-bucket ANN consumers
#   (ss2/ss5) key on — unchanged across rounds.
# - BAND_PLANE_SETS: 4 independent bands of PLANES_PER_BAND=16 planes for
#   the banded near-dup join (dd5) — the sign-LSH analog of MinHash
#   banding: band length sets selectivity, band count sets recall. 8-plane
#   bands measured a constant ~1.9% of ALL pairs as background candidates
#   on the clustered driver embeddings (quadratic at scale, just 50×
#   cheaper); 16-plane bands cut the background rate ~25× while the
#   planted cos≈0.999 twins still collide in ≥1 band with probability
#   ≈ 1 (per-plane sign-flip chance is tiny at that similarity) —
#   measured numbers in SCALE.md §"Measured scale curve".
PLANES_PER_BAND = 16
ALL_PLANES = [
    [_plane_component(i, j) for j in range(DIM)] for i in range(N_BANDS * PLANES_PER_BAND)
]
PLANES = ALL_PLANES[:N_PLANES]
BAND_PLANE_SETS = [
    ALL_PLANES[b * PLANES_PER_BAND : (b + 1) * PLANES_PER_BAND] for b in range(N_BANDS)
]


def sign_key(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern key over the given planes → '01' string per plane."""
    v = F.transform(vec, lambda x: x.cast("double"))
    bits = []
    for plane in planes:
        plane_arr = F.array(*[F.lit(c) for c in plane])
        dot = F.aggregate(
            F.zip_with(v, plane_arr, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def bucket_key(vec: Column) -> Column:
    """Sign-pattern bucket over the 8 hyperplanes → 8-char '01' string."""
    return sign_key(vec, PLANES)


def sign_key_sql(vec: str, planes: list[list[float]]) -> str:
    parts = []
    for plane in planes:
        comps = ", ".join(repr(c) for c in plane)
        dot = (
            f"list_reduce(list_transform(range(1, {DIM} + 1), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ([{comps}])[i]), (x, y) -> x + y)"
        )
        parts.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(parts)


def bucket_key_sql(vec: str) -> str:
    return sign_key_sql(vec, PLANES)


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector."""
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = embeddings.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("cos", 6).alias("cosine"), F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def filtered_cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    filter_col: str = "label",
) -> DataFrame:
    """Attribute-FILTERED vector search: each query's top-k cosine neighbors
    restricted to candidates sharing its ``filter_col`` value (in-class
    retrieval — "nearest English docs", "same-tenant neighbors").

    PRE-filter semantics, not post-filter: the attribute match is the join
    condition, so ranking happens over the filtered candidate set and always
    returns k rows when k exist (post-filtering an unfiltered top-k can
    starve). Scale: the bounded query side broadcasts with its attribute
    value, so candidates stream through one codegen stage — no shuffle; on a
    vector table partitioned/bucketed by the attribute (the standard layout
    for filtered ANN at 100 TB) the same equi-join key turns into partition
    pruning, and the scan itself skips non-matching labels.
    """
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col(filter_col).alias("q_attr"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col(filter_col).alias("c_attr"),
    )
    scored = (
        F.broadcast(q)
        .join(c, (F.col("q_attr") == F.col("c_attr")) & (F.col("query_id") != F.col("cand_id")))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("q_attr").alias("label"),
            "cand_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def hyperplane_lsh_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Bucketed ANN: candidates share the query's hyperplane sign bucket;
    exact cosine re-rank within the bucket."""
    with_bucket = embeddings.select(
        "vec_id", "embedding", bucket_key(F.col("embedding")).alias("bucket")
    )
    q = with_bucket.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    c = with_bucket.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(c, ["bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("cos", 6).alias("cosine"), F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def knn_join(embeddings: DataFrame, k: int = 3, bucket_cap: int | None = None) -> DataFrame:
    """ANN similarity JOIN: EVERY vector's top-k in-bucket neighbors (the
    batch primitive behind embedding near-dup sweeps and link prediction —
    ss1/ss2 answer a handful of queries; this answers all of them).

    Bucketed self-join on the hyperplane sign key — the shuffle key — so
    cost is Σ bucket² instead of n²; per-vector exact cosine re-rank
    inside the bucket. Skewed buckets (dense embedding regions) are the
    scale hazard; ``bucket_cap`` is the explicit lever:

    Buckets larger than ``bucket_cap`` are SALTED — the probe side keeps
    one deterministic salt per vector (hash of vec_id mod n_salt, with
    n_salt = ceil(size/cap)), the build side replicates its rows to every
    salt, and the join key becomes (bucket, salt). Each in-bucket pair
    still meets exactly once (on the probe row's salt), so the result is
    BIT-IDENTICAL to the unsalted join — only the hot bucket's work is
    split across ~n_salt tasks of ≤ cap probe rows each, bounding per-task
    memory/runtime the way any skew-join salting does. Cold buckets take
    the n_salt=1 path unchanged; hot-bucket detection is one map-side-
    combined count + a broadcast join (the hot list is tiny by definition).
    Recall is untouched because salting re-partitions work, never
    candidates — unlike sub-bucketing with extra planes, which would drop
    cross-sub-bucket pairs.
    """
    wb = embeddings.select("vec_id", "embedding", bucket_key(F.col("embedding")).alias("bucket"))
    if bucket_cap is not None:
        from pdf_etl_pipeline_spark.functions.scalars import portable_hash32

        hot = (
            wb.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("bsize"))
            .filter(F.col("bsize") > bucket_cap)
            .select("bucket", F.ceil(F.col("bsize") / bucket_cap).alias("n_salt"))
        )
        salted = wb.join(F.broadcast(hot), "bucket", "left").withColumn(
            "n_salt", F.coalesce("n_salt", F.lit(1))
        )
        a = salted.select(
            "vec_id",
            F.col("embedding").alias("va"),
            "bucket",
            (portable_hash32(F.col("vec_id").cast("string")) % F.col("n_salt")).alias("salt"),
        )
        b = salted.select(
            F.col("vec_id").alias("nbr_id"),
            F.col("embedding").alias("vb"),
            "bucket",
            F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)).alias("salt"),
        )
        scored = a.join(b, ["bucket", "salt"])
    else:
        a = wb.select("vec_id", F.col("embedding").alias("va"), "bucket")
        b = wb.select(F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("vb"), "bucket")
        scored = a.join(b, ["bucket"])
    scored = scored.filter(F.col("vec_id") != F.col("nbr_id")).withColumn(
        "cos", cosine(F.col("va"), F.col("vb"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "nbr_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def embedding_dup_pairs_lsh(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH — the scale path that
    replaces the brute all-pairs verifier (``dedup.embedding_dup_pairs``,
    now test-only).

    Same plan shape as ``dedup.minhash_lsh_pairs``: each vector explodes to
    ``N_BANDS`` (band, sign-key) rows, candidates share any band key (the
    equi-join shuffle key — never an all-pairs product), then an exact
    cosine re-rank over only the surviving pairs. Cost is Σ bucket² per
    band instead of n²; band length trades selectivity for recall exactly
    like MinHash band width (4 bands × 16 planes here — see the constants
    comment). Measured candidate growth across scale factors is tabulated
    in SCALE.md §"Measured scale curve".

    The (small) verified-pair result is checkpointed eagerly; the bands
    relation and the candidate pairs are cached only for this run, so
    repeated calls in a long-lived session leak no cached blocks.
    """
    result, bands, cands = _embedding_lsh_plan(embeddings, threshold)
    with materialized(bands), materialized(cands):
        # fill the caches now so AQE plans the verify joins against real sizes
        cands.count()
        return result.localCheckpoint()


def _embedding_lsh_plan(embeddings: DataFrame, threshold: float) -> tuple[DataFrame, ...]:
    """:func:`embedding_dup_pairs_lsh`' lazy plan, then the bands and the
    candidate pairs it caches (see ``dedup._minhash_lsh_plan``)."""
    e = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    bands = band_rows(e, "vec_id", [sign_key(F.col("v"), ps) for ps in BAND_PLANE_SETS])
    cands = band_pairs(bands, "vec_id", "id_a", "id_b")
    # verify join pulls vectors ONLY for ids that survived banding
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("vec_id")).distinct()
    vecs = e.join(cand_ids, "vec_id", "left_semi")
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = cands.join(va, "id_a").join(vb, "id_b")
    cos = cosine(F.col("va"), F.col("vb"))
    result = verified(pairs, ["id_a", "id_b"], threshold, cosine=cos).select(
        "id_a", "id_b", reported("cosine")
    )
    return result, bands, cands


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the clustered scale path, with centroids learned
# by a deterministic spherical k-means (fixed iterations, hash-seeded init,
# decimal-exact per-dimension means so the DuckDB oracle reproduces every
# iteration bit-for-bit).
# ---------------------------------------------------------------------------
N_CELLS = 16
KMEANS_ITERS = 5
# Embedding components pass through DECIMAL(38,12) for the centroid mean:
# exact decimal addition is associative, so the mean is independent of
# partition order — the property double summation lacks.
_MEAN_DEC = "decimal(38,12)"


def _argmax_cell() -> Column:
    """max_by tiebreak matching the oracle's ``ORDER BY cos_c DESC,
    cell_id``: lexicographic max of (cos_c, -cell_id) → highest cosine,
    then lowest cell id."""
    return F.max_by("cell_id", F.struct(F.col("cos_c"), (-F.col("cell_id")).alias("neg")))


def assign_cells(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (max cosine, centroid-id tiebreak).
    ``cents`` is always n_cells rows — a bounded, legitimate broadcast.

    The argmax is a ``max_by`` AGGREGATE, not a window: partial aggregation
    combines map-side, so the shuffle moves one row per vector instead of
    sorting n_cells rows per vector through a window — the difference is a
    constant factor n_cells in shuffle volume, paid once per k-means
    iteration."""
    scored = embeddings.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", cosine(F.col("embedding"), F.col("centroid"))
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.any_value("embedding").alias("embedding"), _argmax_cell().alias("cell_id"))
        .select("vec_id", "embedding", "cell_id")
    )


def kmeans_centroids(
    embeddings: DataFrame, n_cells: int = N_CELLS, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Deterministic spherical k-means over DataFrame iterations.

    - init: the ``n_cells`` vectors with the smallest portable hash of
      their vec_id (a seeded pseudo-random sample, reproducible in SQL);
    - each iteration: nearest-centroid assignment (cosine), then per-cell
      per-dimension mean via exact decimal sums (order-independent — a
      plain double sum would make centroids depend on partition order);
    - cells that lose all members keep their previous centroid;
    - cosine is scale-invariant, so the unnormalized mean IS the spherical
      centroid (no renormalization step needed).

    Iterations loop in Python over *plans*, never over data — each round is
    one cross join (16-row broadcast) + one shuffle on (cell, dim).
    """
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32

    e = embeddings.select("vec_id", "embedding")
    cents = (
        e.orderBy(portable_hash32(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
    )
    for _ in range(iters):
        assigned = assign_cells(e, cents)
        dims = assigned.select("cell_id", F.posexplode("embedding").alias("pos", "v"))
        means = dims.groupBy("cell_id", "pos").agg(
            (
                F.sum(F.col("v").cast("double").cast(_MEAN_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("mv")
        )
        new_c = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s["mv"]
            ).alias("newc")
        )
        cents = (
            cents.select("cell_id", F.col("centroid").alias("prev"))
            .join(new_c, "cell_id", "left")
            .select("cell_id", F.coalesce("newc", "prev").alias("centroid"))
            # truncate lineage: each round references the previous centroids
            # twice (assignment + empty-cell fallback); left lazy the plan
            # doubles per round. 16 rows — checkpoint cost is nil. Lazy
            # checkpoint (r16): the next round's broadcast build (or the
            # caller's first action) materializes it — one job per round
            # instead of an eager-checkpoint job plus the round's own.
            .localCheckpoint(eager=False)
        )
    return cents


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC) — the
# compressed-vector scale path: a 64-float (256 B) vector becomes M=8
# subspace codes (8 B) — 32× smaller, so a 100 TB embedding store's scan
# side shrinks to ~3 TB of codes while queries keep full precision
# (Jégou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
# Search" — the ADC variant: only the corpus is quantized).
# ---------------------------------------------------------------------------
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 8  # codes per subspace (256^... keep small: oracle re-learns all 8 codebooks)
PQ_ITERS = 3


def _subvector(vec: Column, m: int) -> Column:
    return F.slice(vec, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _sub_exploded(embeddings: DataFrame) -> DataFrame:
    """(vec_id, m, sub): every vector exploded into its PQ_M subspace
    slices — the grouped form that lets one shuffle serve all 8 subspaces
    at once instead of 8 sequential per-subspace jobs."""
    slices = F.array(*[_subvector(F.col("embedding"), m) for m in range(PQ_M)])
    return embeddings.select("vec_id", F.posexplode(slices).alias("m", "sub"))


def pq_codebooks(embeddings: DataFrame) -> DataFrame:
    """Per-subspace codebooks as one (m, cell_id, centroid) relation —
    the SAME deterministic k-means the IVF index uses (hash-seeded init,
    decimal-exact means, empty cells keep their centroid), run over each
    of the corpus's 8-dim slices. Learned once per corpus (memoized
    session-wide by the catalog, like IVF centroids).

    All 8 subspaces iterate TOGETHER, keyed by ``m``: each k-means round
    is one broadcast join + one argmax aggregate + one means shuffle over
    the (vec_id, m, sub) relation, instead of 8 sequential runs with 3
    barriers each — 3 rounds of shared shuffles replace 24. The math is
    identical to independent runs (every reduction is keyed by m; the
    decimal sums are partition-order-independent), so the per-subspace
    DuckDB oracle chains (catalog/similarity_q.py) verify it unchanged.
    The seed ids are the PQ_K smallest (portable-hash, vec_id) — the same
    ids for every subspace, exactly as the per-slice runs chose them
    (the hash ignores the slice)."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32

    sub = _sub_exploded(embeddings)
    seeds = (
        embeddings.select("vec_id")
        .orderBy(portable_hash32(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_K)
    )
    cents = (
        sub.join(F.broadcast(seeds), "vec_id")
        .select(
            "m",
            F.col("vec_id").alias("cell_id"),
            F.transform("sub", lambda x: x.cast("double")).alias("centroid"),
        )
        .localCheckpoint()
    )
    for _ in range(PQ_ITERS):
        scored = sub.join(F.broadcast(cents), "m").withColumn(
            "cos_c", cosine(F.col("sub"), F.col("centroid"))
        )
        assigned = scored.groupBy("m", "vec_id").agg(
            F.any_value("sub").alias("sub"), _argmax_cell().alias("cell_id")
        )
        dims = assigned.select("m", "cell_id", F.posexplode("sub").alias("pos", "v"))
        means = dims.groupBy("m", "cell_id", "pos").agg(
            (
                F.sum(F.col("v").cast("double").cast(_MEAN_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("mv")
        )
        new_c = means.groupBy("m", "cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s["mv"]
            ).alias("newc")
        )
        cents = (
            cents.select("m", "cell_id", F.col("centroid").alias("prev"))
            .join(new_c, ["m", "cell_id"], "left")
            .select("m", "cell_id", F.coalesce("newc", "prev").alias("centroid"))
            # 64 rows — truncate lineage so the plan doesn't double per round;
            # lazy: the next round's broadcast build materializes it (r16)
            .localCheckpoint(eager=False)
        )
    return cents


def pq_encode(embeddings: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Corpus codes: (vec_id, m, cell_id) — each vector's m-th slice
    assigned to its nearest subspace centroid (same cosine + id-tiebreak
    rule as IVF assignment). 8 rows per vector ≡ the 8-byte PQ code.
    One broadcast join + one argmax aggregate covers all 8 subspaces."""
    sub = _sub_exploded(embeddings)
    scored = sub.join(F.broadcast(codebooks), "m").withColumn(
        "cos_c", cosine(F.col("sub"), F.col("centroid"))
    )
    return (
        scored.groupBy("vec_id", "m")
        .agg(_argmax_cell().alias("cell_id"))
        .select("vec_id", "m", "cell_id")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: approximate inner product ⟨q, x⟩ ≈ Σ_m ⟨q_m, c_m(x)⟩.

    Each query precomputes an (m, cell_id, partial-dot) lookup table
    against the codebooks — |Q| × M × K rows, broadcast-sized by
    construction — and the corpus side is scored by joining its CODES to
    the table on (m, cell_id): the full vectors never move, only 8 small
    ints per vector reach the shuffle. Partial dots are sequential folds;
    their 8-way sum runs through exact decimals, so scores are
    partition-order-independent and oracle-reproducible.

    Measured accuracy (SCALE.md "ss6/ss7" table, tools/scale_curve.py):
    with this deliberately small K=8 codebook, raw ADC@k decays with
    corpus size (0.225 -> 0.037 across 1k -> 12k vectors) — use it as the
    SHORTLIST stage of :func:`pq_rerank_topk`, whose depth knob restores
    recall to 0.95 at 5%-of-n depth.
    """
    from pdf_etl_pipeline_spark.functions.scalars import dec_sum

    cb = codebooks if codebooks is not None else pq_codebooks(embeddings)
    codes = pq_encode(embeddings, cb)
    q = embeddings.filter(F.col("vec_id").isin(query_ids))
    qparts = []
    for m in range(PQ_M):
        qparts.append(
            q.select(
                F.col("vec_id").alias("query_id"),
                F.lit(m).alias("m"),
                _subvector(F.col("embedding"), m).alias("qv"),
            )
        )
    qsub = qparts[0]
    for p in qparts[1:]:
        qsub = qsub.unionAll(p)
    table = qsub.join(cb, "m").select(
        "query_id", "m", "cell_id", dedup_dot(F.col("qv"), F.col("centroid")).alias("part")
    )
    scored = (
        codes.join(F.broadcast(table), ["m", "cell_id"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.round(dec_sum("part"), 6).alias("adc_score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adc_score", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 25,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist → exact rerank: the production two-stage ANN shape.

    Stage 1 scores the whole corpus from its 8-int PQ codes (``pq_adc_topk``
    — full vectors never shuffle) and keeps a ``shortlist``-deep candidate
    set per query; stage 2 fetches ONLY the shortlist vectors (a broadcast
    join of the |Q|·shortlist-row shortlist against the embeddings table —
    no shuffle of the corpus, and at cluster scale a bucketed embeddings
    table turns the fetch into pruned point reads) and reranks them by
    exact cosine. Recall follows the shortlist, cost stays at the
    compressed-domain scan: the measured curve (SCALE.md "ss6/ss7" table)
    shows a 5%-of-n shortlist holding recall@10 at 0.875–0.95 across
    1k–12k-vector corpora while raw ADC@10 decays to 0.037."""
    short = pq_adc_topk(embeddings, query_ids, k=shortlist, codebooks=codebooks)
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    fetched = embeddings.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")).join(
        F.broadcast(short.select("query_id", "cand_id")), "cand_id"
    )
    scored = fetched.join(F.broadcast(q), "query_id").withColumn(
        "cos", cosine(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def ivf_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ (ss8): cell-pruned ADC — the production composite index
    (FAISS "IVFADC", Jégou et al. 2011, minus residual encoding: codes
    quantize raw vectors so the SAME codebooks serve ss6/ss7/ss8 and the
    oracle re-learns one set).

    The index is one (ivf_cell, 8 codes) row per vector — at 100 TB the
    codes table is stored partitioned by ``ivf_cell``, so a query's
    ``nprobe`` cells prune the scan to nprobe/n_cells of the corpus
    BEFORE any scoring happens (the coarse quantizer's job), and the
    surviving candidates are scored from codes alone via the broadcast
    ADC tables (the fine quantizer's job). Full vectors appear nowhere:
    not in the scan, not in the shuffle. Composition of the ss3 probe
    plan and the ss6 scoring plan; every join is an equi-join on
    (ivf_cell) or (query_id, m, cell_id)."""
    from pdf_etl_pipeline_spark.functions.scalars import dec_sum

    cents = centroids if centroids is not None else kmeans_centroids(embeddings)
    cb = codebooks if codebooks is not None else pq_codebooks(embeddings)
    assigned = assign_cells(embeddings.select("vec_id", "embedding"), cents).select(
        "vec_id", F.col("cell_id").alias("ivf_cell")
    )
    codes = pq_encode(embeddings, cb)
    qv = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # probe list: |Q| x nprobe rows — broadcast-sized by construction
    scored_c = qv.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", cosine(F.col("qv"), F.col("centroid"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), "cell_id")
    probe = (
        scored_c.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", F.col("cell_id").alias("ivf_cell"))
    )
    cands = (
        assigned.join(F.broadcast(probe), "ivf_cell")
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    # per-query subspace slices -> (query_id, m, cell_id, partial-dot) table
    qparts = []
    for m in range(PQ_M):
        qparts.append(
            qv.select(
                "query_id", F.lit(m).alias("m"), _subvector(F.col("qv"), m).alias("qsub")
            )
        )
    qsub = qparts[0]
    for p in qparts[1:]:
        qsub = qsub.unionAll(p)
    table = qsub.join(cb, "m").select(
        "query_id", "m", "cell_id", dedup_dot(F.col("qsub"), F.col("centroid")).alias("part")
    )
    scored = (
        codes.withColumnRenamed("vec_id", "cand_id")
        .join(cands, "cand_id")
        .join(F.broadcast(table), ["query_id", "m", "cell_id"])
        .groupBy("query_id", "cand_id")
        .agg(F.round(dec_sum("part"), 6).alias("adc_score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adc_score", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def ivf_assignments(embeddings: DataFrame, centroid_ids: list[int] | None = None) -> DataFrame:
    """Fixed-subset IVF assignment (centroids = a deterministic id subset).
    Kept as the recall baseline the learned variant is tested against."""
    ids = centroid_ids if centroid_ids is not None else list(range(N_CELLS))
    cents = embeddings.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    return assign_cells(embeddings, cents)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    learned: bool = True,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: candidates share one of the query's ``nprobe`` nearest
    cells; exact cosine re-rank across the probed cells. Same plan shape as
    hyperplane LSH with learned (k-means) cells instead of sign buckets.

    ``nprobe > 1`` is the standard recall knob: corpus vectors stay in
    exactly one cell (the index is built once), only the query fans out to
    its ``nprobe`` closest centroids — candidate volume grows linearly in
    nprobe while the corpus-side shuffle is unchanged.

    ``centroids`` lets callers pass a pre-learned (memoized) centroid
    relation so the 5-iteration k-means isn't re-run per query — the
    build-index-once pattern; ignored when ``learned`` is False.
    """
    if learned:
        cents = centroids if centroids is not None else kmeans_centroids(embeddings)
        assigned = assign_cells(embeddings.select("vec_id", "embedding"), cents)
    else:
        assigned = ivf_assignments(embeddings)
    if nprobe == 1:
        q = assigned.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell_id"
        )
    else:
        # query-side multi-probe: rank ALL cells per query, keep the top
        # nprobe — a |Q| x n_cells relation, broadcast-sized by definition
        qv = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        scored_c = qv.crossJoin(F.broadcast(cents)).withColumn(
            "cos_c", cosine(F.col("qv"), F.col("centroid"))
        )
        wq = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), "cell_id")
        q = (
            scored_c.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= nprobe)
            .select("query_id", "qv", "cell_id")
        )
    c = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "cell_id"
    )
    scored = (
        F.broadcast(q)
        .join(c, ["cell_id"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("cos", 6).alias("cosine"), F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def semdedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    cents: DataFrame | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """DD9: SemDeDup (Abbas et al. 2023) — semantic near-duplicate pairs
    via k-means clustering: vectors are assigned to learned cells and
    pairwise cosine runs ONLY within a cell, the approximation the paper
    applies at web scale (LAION/C4) because ε-near semantic duplicates
    land in the same cluster with overwhelming probability.

    Cost shape vs dd5 (banded sign-LSH over the same corpus): here the
    quadratic term is Σ_cells |cell|² — bounded by (n/k)·n for balanced
    cells, tunable with k — and the candidate generator is the SAME
    learned index ss3/ss4 search (centroids learned once per session via
    ``catalog.similarity_q.shared_centroids``). Recall misses are pairs
    straddling a cell boundary — the paper's accepted trade; dd5's
    banded-hyperplane generator is the recall-oriented alternative.

    Determinism: the clustering chain is the hash-checked deterministic
    k-means (decimal-exact means); the threshold compares the UNROUNDED
    cosine (oracle parity), rounded only for output.

    ``cell_cap`` bounds the quadratic term BY CONSTRUCTION: a cell larger
    than the cap (skewed embedding distribution — k-means cannot promise
    balance) is split into ceil(|cell|/cap) sub-cells by a deterministic
    secondary hash of vec_id, and the pair join keys on (cell, sub-cell).
    Total pair work then ≤ Σ n_sub·cap² ≈ n·cap instead of Σ|cell|².
    Unlike ss5's salting (which re-partitions the SAME pairs across
    tasks), sub-bucketing DROPS pairs straddling a sub-cell — the same
    accepted trade as SemDeDup's own cell boundaries, one level down.
    When no cell exceeds the cap the split is a no-op (n_sub=1
    everywhere) and results are bit-identical to the uncapped join.
    """
    cents = cents if cents is not None else kmeans_centroids(embeddings)
    assigned = assign_cells(embeddings, cents)
    if cell_cap is not None:
        from pdf_etl_pipeline_spark.functions.scalars import portable_hash32

        # oversized-cell list is tiny by definition — broadcast it
        hot = (
            assigned.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("csize"))
            .filter(F.col("csize") > cell_cap)
            .select("cell_id", F.ceil(F.col("csize") / cell_cap).alias("n_sub"))
        )
        assigned = assigned.join(F.broadcast(hot), "cell_id", "left").withColumn(
            "sub",
            F.coalesce(
                portable_hash32(F.col("vec_id").cast("string")) % F.col("n_sub"),
                F.lit(0).cast("long"),
            ),
        )
    else:
        assigned = assigned.withColumn("sub", F.lit(0).cast("long"))
    a = assigned.select(
        "cell_id", "sub", F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = assigned.select(
        "cell_id", "sub", F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, ["cell_id", "sub"]).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        pairs.filter(cos >= threshold)
        .select("cell_id", "id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Text → embedding featurization in-plan: random-sign feature hashing
# (the "hashing trick", Weinberger et al. 2009) — hashed bag-of-tokens
# projections so the whole ANN/SemDeDup family runs end-to-end from raw
# text with no external embedding model. Each token contributes ±1 to one
# of DIM dimensions, both chosen by the portable md5 hash pair — fully
# deterministic and engine-identical, and unit-norm-free (cosine is
# scale-invariant downstream).
#
# Shape for scale: explode → (doc, dim-index) keyed aggregation (one
# shuffle, map-side combined: at most DIM rows per doc survive the
# combiner regardless of document length) → per-doc dense assembly from a
# collected sparse map. No corpus-sized window, no Python, no model
# artifact to distribute.
# ---------------------------------------------------------------------------
FH_SIGN_SALT = "s|"  # domain-separates the sign hash from the index hash


def feature_hash_vectors(docs: DataFrame, dim: int = DIM) -> DataFrame:
    """(doc_id, text) → (vec_id, embedding array<double>[dim]) via
    random-sign feature hashing. Docs whose components fully cancel (or
    with no tokens) are dropped — a zero vector has no cosine direction
    and would poison downstream normalization in both engines."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32
    from pdf_etl_pipeline_spark.llmdata.dedup import tokens_col

    feats = docs.select("doc_id", F.explode(tokens_col("text", distinct=False)).alias("tok"))
    idx = (portable_hash32("tok") % dim).alias("idx")
    sgn = (
        F.when(portable_hash32(F.concat(F.lit(FH_SIGN_SALT), F.col("tok"))) % 2 == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("sgn")
    )
    # ±1.0 double sums are exact integers — order-independent without the
    # decimal detour money aggregates need
    sparse = feats.select("doc_id", idx, sgn).groupBy("doc_id", "idx").agg(
        F.sum("sgn").alias("v")
    )
    dense = (
        sparse.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "v"))).alias("m"))
        .select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: F.coalesce(F.element_at("m", d.cast("long")), F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    return dense.filter(F.size(F.filter("embedding", lambda x: x != 0)) > 0)


def feature_hash_sql(table: str = "documents", dim: int = DIM) -> str:
    """DuckDB CTE fragment producing the identical ``hv (vec_id,
    embedding)`` relation as :func:`feature_hash_vectors`."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32_sql
    from pdf_etl_pipeline_spark.llmdata.dedup import tokens_sql

    toks = tokens_sql("text", distinct=False)
    h_idx = portable_hash32_sql("tok")
    h_sgn = portable_hash32_sql(f"'{FH_SIGN_SALT}' || tok")
    return f"""fh_feats AS (SELECT doc_id, unnest({toks}) AS tok FROM {table}),
fh_sparse AS (
  SELECT doc_id, {h_idx} % {dim} AS idx,
         CAST(SUM(CASE WHEN {h_sgn} % 2 = 0 THEN 1.0 ELSE -1.0 END) AS DOUBLE) AS v
  FROM fh_feats GROUP BY 1, 2),
hv AS (
  SELECT vec_id, embedding FROM (
    SELECT dd.doc_id AS vec_id,
           list(coalesce(s.v, 0.0) ORDER BY dims.d) AS embedding
    FROM (SELECT DISTINCT doc_id FROM fh_sparse) dd
    CROSS JOIN (SELECT unnest(range(0, {dim})) AS d) dims
    LEFT JOIN fh_sparse s ON s.doc_id = dd.doc_id AND s.idx = dims.d
    GROUP BY 1)
  WHERE len(list_filter(embedding, x -> x <> 0)) > 0)"""
