"""Training-data deduplication at 100 TB scale (north-star op set).

Five dedup families over the ``documents`` / ``embeddings`` tables:

- **exact** — md5 groupBy. One shuffle on the digest; at 100 TB this is the
  cheapest possible dedup (map-side partial agg, ~16-byte keys).
- **n-gram Jaccard** — inverted-index token self-join. Scale controls:
  document-frequency pruning (drop tokens appearing in > max_df docs — they
  generate O(df²) candidate pairs and carry no signal) and the a<b triangle
  constraint. Without pruning a stopword token alone produces a quadratic
  blowup.
- **MinHash + LSH** — the sub-quadratic path: 64 permutations → 4 bands of
  16 → candidates share a band key → verified with true Jaccard. Candidate
  generation is a self-join on (band, key): at scale the band key is the
  shuffle key and the 16-row bands keep P(candidate|j) steep around the
  0.9 threshold, so the join output is ~linear in true near-dup pairs.
- **SimHash** — 32-bit per-doc fingerprint; near-dups differ in ≤ k bits.
  Pairing at scale: join on rotated fingerprint bands (pigeonhole), here we
  emit the fingerprint relation itself (the join is the same LSH shape).
- **embedding cosine** — brute-force O(n²) verification locally; the scale
  path is random-hyperplane LSH (``similarity.py``) feeding the same
  verifier.

Every hash is the engine-portable md5-fold (``functions.scalars.
portable_hash32``) so the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.functions.scalars import portable_hash32, portable_hash32_sql

P31 = 2_147_483_647  # Mersenne prime 2^31-1
# 64 perms in 4 bands of 16: the synthetic corpus (and real web crawls) are
# saturated with mid-similarity pairs — wide 4-row bands make nearly every
# pair a candidate (measured: O(n^2) candidates, 286 s at sf0.1). 16-row
# bands give P(candidate | j) = 1-(1-j^16)^4: steep around j≈0.9, so the
# candidate set tracks true near-dups instead of the quadratic tail.
NUM_PERM = 64
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
# Deterministic permutation constants — same formula embedded in the SQL
# oracle (Knuth multiplicative constants mod p).
PERM_A = [(2654435761 * (i + 1)) % P31 for i in range(NUM_PERM)]
PERM_B = [(40503 * (i + 7) + 97) % P31 for i in range(NUM_PERM)]


def tokens_col(text: Column | str, distinct: bool = True) -> Column:
    """Shared tokenization: lowercase, split on non-alphanumeric runs."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")
    return F.array_distinct(toks) if distinct else toks


def tokens_sql(expr: str, distinct: bool = True) -> str:
    inner = f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), x -> x <> '')"
    return f"list_distinct({inner})" if distinct else inner


SHINGLE_N = 3


def shingles_col(text: Column | str, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles (space-joined runs of n tokens).

    Shingles are the classic near-dup unit for text (MinHash papers use
    character or word shingles): unlike bag-of-words Jaccard they are
    order-sensitive, so scrambled documents stop looking identical.

    The token array is let-bound (r16): the ``element_at`` references
    inside the transform lambda previously re-evaluated the whole
    split+lower tokenizer PER GRAM PER OFFSET — O(n_tokens · n) tokenizer
    runs per row; bound, it is evaluated once."""
    from pdf_etl_pipeline_spark.functions.scalars import let_col

    toks = tokens_col(text, distinct=False)

    def body(ts: Column) -> Column:
        starts = F.sequence(F.lit(1), F.size(ts) - (n - 1))
        mk = lambda i: F.concat_ws(" ", *[F.element_at(ts, i + off) for off in range(n)])
        return F.when(F.size(ts) >= n, F.array_distinct(F.transform(starts, mk))).otherwise(
            F.array().cast("array<string>")
        )

    return let_col(toks, body)


def shingles_sql(expr: str, n: int = SHINGLE_N) -> str:
    toks = tokens_sql(expr, distinct=False)
    parts = " || ' ' || ".join(f"({toks})[i + {off}]" for off in range(n))
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1), i -> {parts}))"
    )


def token_hashes_sql(expr: str) -> str:
    """Distinct portable token hashes mod p (the dd3 verification set).

    The ``% P31`` matches the Spark side, which hashes each token ONCE into
    a (doc_id, h) relation and derives both the MinHash signatures and the
    verify sets from it — one md5 pass over the corpus instead of two.
    """
    return (
        "list_distinct(list_transform("
        + tokens_sql(expr)
        + ", t -> "
        + portable_hash32_sql("t")
        + f" % {P31}))"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one surviving doc id per distinct text.

    Unordered — at scale a global sort is pure overhead; the catalog
    wrapper adds the deterministic ordering the oracle gate needs.
    """
    return docs.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# n-gram / token Jaccard
# ---------------------------------------------------------------------------
def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    sets: Column | None = None,
) -> DataFrame:
    """Near-dup pairs by set Jaccard via inverted-index self-join.

    ``sets`` is the per-document element set (default: distinct unigram
    tokens; pass ``shingles_col("text")`` for order-sensitive n-grams).

    ``max_df`` drops elements appearing in more than that many documents
    before the join — the 100 TB guard against stopword-driven quadratic
    candidate blowup. The pruning join carries no broadcast hint: the
    rare-element list is vocabulary-sized (NOT small at corpus scale), so
    the planner/AQE must pick the strategy; the join key is the same
    ``tok`` the self-join shuffles on, so the exchange is reused.
    """
    if sets is None:
        sets = tokens_col("text")
    toks = docs.select("doc_id", F.explode(sets).alias("tok"))
    if max_df is not None:
        rare = toks.groupBy("tok").count().filter(F.col("count") <= max_df).select("tok")
        toks = toks.join(rare, "tok", "left_semi")
    sizes = docs.select("doc_id", F.size(sets).alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    # threshold the UNROUNDED ratio (the oracle's WHERE is unrounded) —
    # filtering the rounded value would admit [threshold - 5e-7, threshold)
    jac_raw = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac_raw >= threshold)
        .select("doc_a", "doc_b", F.round(jac_raw, 6).alias("jaccard"))
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    max_df: int | None = None,
    sets: Column | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by set containment |A∩B|/|A| — "doc_a is
    (nearly) contained in doc_b": the quote/boilerplate/subset-document
    detector symmetric Jaccard misses (a tweet quoted inside an article
    has Jaccard ≈ |tweet|/|article| ≈ 0 but containment ≈ 1).
    (:func:`ppjoin_containment_pairs` is the EXACT variant — prefix
    filtering instead of lossy DF pruning, at the cost of a heavier
    candidate join on tiny-vocabulary corpora.)

    Same inverted-index + DF-pruning machinery as :func:`jaccard_pairs`
    (one unordered candidate join computes ``n_common`` once); both
    directions are then emitted from that single join — containment is
    the only per-direction arithmetic, so asymmetry costs nothing extra
    at scale. Candidate recall caveat (documented, mirrored in the
    oracle): DF pruning removes common elements from the INTERSECTION
    too, so containment is computed over the pruned universe — the
    standard trade for avoiding the stopword-quadratic join."""
    if sets is None:
        sets = tokens_col("text")
    toks = docs.select("doc_id", F.explode(sets).alias("tok"))
    if max_df is not None:
        rare = toks.groupBy("tok").count().filter(F.col("count") <= max_df).select("tok")
        toks = toks.join(rare, "tok", "left_semi")
    # sizes over the SAME pruned universe the intersection lives in
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    joined = common.join(sa, "doc_a").join(sb, "doc_b")
    fwd = joined.select(
        "doc_a", "doc_b", F.round(F.col("n_common") / F.col("na"), 6).alias("containment")
    )
    rev = joined.select(
        F.col("doc_b").alias("doc_a"),
        F.col("doc_a").alias("doc_b"),
        F.round(F.col("n_common") / F.col("nb"), 6).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------
def minhash_signature(text: Column | str) -> Column:
    """MinHash signature as array<long>, entirely native:
    sig[i] = min over tokens of (a_i * (h(tok) mod p) + b_i) mod p."""
    toks = tokens_col(text)
    hashes = F.transform(toks, lambda t: portable_hash32(t) % P31)
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % P31

    return F.array(
        *[F.array_min(F.transform(hashes, perm(a, b))) for a, b in zip(PERM_A, PERM_B)]
    )


def minhash_signatures_agg(docs: DataFrame) -> DataFrame:
    """Signatures via explode + groupBy-min — the scale shape.

    The array-expression form (``minhash_signature``) is correct but
    Catalyst's CollapseProject inlines the whole 32-perm tree into every
    downstream reference (measured 8×32× recomputation of the md5 fold in
    the banding explode). Hashing each token ONCE and taking 32 ``min``
    aggregates keeps cost at |tokens| md5s + one map-side-combined shuffle,
    and band keys then reference plain columns.
    """
    tok = docs.select("doc_id", F.explode(tokens_col("text")).alias("t"))
    h = (portable_hash32(F.col("t")) % P31).alias("h")
    hashed = tok.select("doc_id", h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % P31).alias(f"s{i}")
        for i, (a, b) in enumerate(zip(PERM_A, PERM_B))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def hashed_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, h) relation: every distinct token md5-hashed ONCE mod p —
    the single-pass source both the signatures and the verify sets derive
    from (shared by the batch pair query and the streaming ingest)."""
    return docs.select("doc_id", F.explode(tokens_col("text")).alias("t")).select(
        "doc_id", (portable_hash32(F.col("t")) % P31).alias("h")
    )


def signatures_from_hashed(hashed: DataFrame) -> DataFrame:
    """64 MinHash aggregates (s0..s63) over the hashed-token relation."""
    sig_aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % P31).alias(f"s{i}")
        for i, (a, b) in enumerate(zip(PERM_A, PERM_B))
    ]
    return hashed.groupBy("doc_id").agg(*sig_aggs)


def bands_from_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH banding relation — the equi-join/shuffle key
    for candidate generation, and the on-disk index schema for ingest."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-", *[F.col(f"s{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias("key"),
        )
        for b in range(BANDS)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    persist: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, verified with true Jaccard.
    Measured candidate growth across scale factors is tabulated in
    SCALE.md §"Measured scale curve".

    ``materialize=True`` checkpoints the (small) verified-pair result and
    unpersists every build-time cache (hashed tokens, signatures,
    candidates) — long-lived sessions leak no cached blocks per call; the
    session-level memo in ``catalog.dedup_q.shared_pairs`` builds on this.

    Single-hash-pass design: tokens are exploded and md5-hashed ONCE into a
    ``(doc_id, h)`` relation; both the 64 MinHash signature aggregates and
    the verification token-hash sets are groupBys over it. The verify
    Jaccard is therefore over hashes mod p (the oracle mirrors the mod) —
    identical results modulo hash collisions, at half the hashing cost.

    ``persist`` caches the intermediates referenced more than once: the
    hashed-token relation (2 longs/row, ~corpus-token cardinality —
    MEMORY_AND_DISK so it spills rather than OOMs; at cluster scale this is
    the standard cache-or-recompute tradeoff), the per-doc signatures
    (64 longs/doc) and the candidate pairs (2 ints/pair). Without it
    Catalyst replicates the explode+hash subtree ~4× across the band
    self-join sides (no exchange reuse).
    """
    from pyspark import StorageLevel

    hashed = hashed_tokens(docs)
    if persist:
        hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = signatures_from_hashed(hashed)
    if persist:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    bands = bands_from_signatures(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if persist:
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
        # materialize the cache now (also fills hashed/sigs upstream): AQE
        # then plans the verify join against REAL cached sizes instead of
        # guesses — measured ~6 s faster at sf0.1 than one fused lazy job
        cands.count()
    # verify on distinct token-HASH sets: intersecting 64-bit ints is far
    # cheaper than strings at 1M+ candidate pairs (same Jaccard modulo hash
    # collisions; the oracle hashes identically so results match exactly).
    # The token relation is semi-joined down to docs that survived banding
    # BEFORE the verify join: candidates ≪ corpus after banding, so the
    # pruned side stays small and the join is a plain shuffle join —
    # broadcasting the full corpus token table (the round-1 shape) is a
    # guaranteed OOM at 100 TB.
    cand_ids = cands.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    toks = (
        hashed.groupBy("doc_id")
        .agg(F.collect_set("h").alias("toks"))
        .join(cand_ids, "doc_id", "left_semi")
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    verified = cands.join(ta, "doc_a").join(tb, "doc_b")
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    # threshold the UNROUNDED ratio (oracle parity; see the dd2 note)
    result = (
        verified.filter((inter / union) >= threshold)
        .select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
    )
    if materialize:
        result = result.localCheckpoint()  # eager; pair relation is small
        if persist:
            for cached in (cands, sigs, hashed):
                cached.unpersist()
    return result


# ---------------------------------------------------------------------------
# Near-dup clustering: transitive closure over the LSH pair relation
# ---------------------------------------------------------------------------
CLUSTER_ITERS = 6


def near_dup_clusters(
    docs: DataFrame,
    threshold: float = 0.9,
    iters: int = CLUSTER_ITERS,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    labeled with the MIN doc_id of its component (the canonical survivor —
    the actual "keep one per group" dedup deliverable; pairs alone under-
    delete because near-duplication is transitive: A≈B, B≈C ⇒ drop 2 of 3
    even when A≈C was never emitted).

    ``iters`` fixed rounds of min-label propagation — each round every doc
    takes the minimum label among itself and its neighbors, so the label
    radius grows one hop per round. Near-dup components are dense and
    small-diameter (copies of a common origin), so a small fixed ``iters``
    converges; a fixed count also keeps the computation exactly
    reproducible in the SQL oracle (unrolled iteration chain). At true
    100 TB graph diameters you'd switch to large-star/small-star rounds —
    same join shape, logarithmic round count.

    Convergence is verified, not assumed: ``label_components`` iterates
    until the monotone label sum stops changing (so a diameter-7 chain no
    longer silently under-merges at ``iters=6``) and stops early the round
    it converges. The fixed-round oracle stays valid because the synthetic
    near-dup components converge well inside ``iters`` (dense copy
    clusters) — pinned by the dd6 gate staying green.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold)
    return label_components(docs, pairs, rounds=iters, doubling=False, until_converged=True)


STAR_ROUNDS = 5


def near_dup_clusters_star(
    docs: DataFrame,
    threshold: float = 0.9,
    rounds: int = STAR_ROUNDS,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components with LOGARITHMIC round count — the 100 TB shape
    ``near_dup_clusters``'s docstring promises (hash-to-min / star family,
    Kiveris et al. 2014).

    Each round does (1) the same one-hop neighbor-min as the plain variant
    and then (2) pointer doubling: every node re-labels to its label's
    label. Labels jump arbitrarily far along already-built chains, so the
    covered distance roughly doubles per round — diameter-D components
    converge in O(log D) rounds where plain propagation needs D (pinned by
    a chain-graph test). Same per-round shuffles (keyed joins + a
    groupBy-min) — no new scale primitives, just fewer rounds; the
    monotone-sum convergence check stops the loop the round the fixed
    point is reached (and keeps going past ``rounds`` if it is not).
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold)
    return label_components(docs, pairs, rounds=rounds, doubling=True, until_converged=True)


def label_components(
    nodes: DataFrame,
    pairs: DataFrame,
    rounds: int,
    doubling: bool,
    until_converged: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """Shared min-label engine over an undirected pair relation.

    Each round references the previous labels twice and the edge relation
    once — left lazy, the logical plan doubles per round (2^rounds copies
    of the upstream subtree; measured: Catalyst analysis alone never
    finished). localCheckpoint truncates lineage per round — the standard
    iterative-graph pattern (GraphX checkpoints the same way).

    Convergence is OBSERVED, not assumed: labels only ever decrease
    (``least`` of the old label and neighbor minima), so the global
    ``sum(cluster_id)`` is strictly decreasing until the fixed point — an
    unchanged sum between rounds is a convergence certificate. The check is
    one scalar aggregate per round over the just-checkpointed 2-column
    frame (cheap; no label-diff self-join). Every mode breaks as soon as
    the sum stops moving — extra rounds past the fixed point are no-ops.

    ``until_converged=True`` iterates PAST ``rounds`` to the exact fixed
    point (bounded by ``max_rounds``) — the mode that fixes plain
    propagation silently under-merging chains with diameter > ``rounds``;
    ``False`` keeps the fixed-round contract the unrolled SQL oracles
    reproduce.
    """
    edges = (
        pairs.select("doc_a", "doc_b")
        .union(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
        # lazy checkpoint: the isEmpty probe below is the materializing
        # action, so the edge relation costs ONE job instead of two (r16)
        .localCheckpoint(eager=False)
    )
    if edges.isEmpty():
        # Empty pair graph: every node is its own (kept) component. Common
        # in steady-state ingest — a clean batch generates no intra-batch
        # LSH pairs — and the check is one first-partition probe of the
        # just-checkpointed edges, vs two checkpoint+aggregate rounds of
        # the loop below to certify the same fixed point.
        return nodes.select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        ).withColumn("is_keeper", F.lit(True))
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    prev_sum = None
    done = 0
    while True:
        nbr = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        labels = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                "cluster_id"
            ),
        )
        if doubling:
            parent = labels.select(
                F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_lab")
            )
            labels = labels.join(
                parent, labels["cluster_id"] == parent["p_id"], "left"
            ).select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("p_lab", "cluster_id")).alias(
                    "cluster_id"
                ),
            )
        # lazy checkpoint fused with the convergence aggregate (r16): the
        # eager form ran one job to materialize the checkpoint and a second
        # for the sum — the agg below is now the materializing action, so
        # each round costs ONE job for both (lineage still truncated; the
        # next round's joins read the checkpointed blocks)
        labels = labels.localCheckpoint(eager=False)
        done += 1
        # decimal(38,0) sum: raw int64 sums overflow (ANSI mode: throw) once
        # corpora reach billions of large doc_ids — exactly the scale this
        # loop targets; decimal is exact to 38 digits so the certificate
        # (strictly-decreasing sum) still holds
        cur_sum = labels.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).first()[0]
        if cur_sum == prev_sum:
            break  # fixed point reached — labels can only decrease
        prev_sum = cur_sum
        if done >= (max_rounds if until_converged else rounds):
            break
    return labels.withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------
def simhash32(text: Column | str) -> Column:
    """32-bit SimHash: bit i set when ≥ half the tokens have bit i set in
    their portable hash (majority vote, ties → set)."""
    toks = tokens_col(text)
    hashes = F.transform(toks, lambda t: portable_hash32(t))
    n = F.size(hashes)
    def bit_set(mask: int):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    bits = [
        F.when(
            F.size(F.filter(hashes, bit_set(1 << i))) * 2 >= n,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(32)
    ]
    total = bits[0]
    for extra in bits[1:]:
        total = total + extra
    return total


def simhash_relation(docs: DataFrame) -> DataFrame:
    """SimHash via explode + 32 conditional-count aggregates (hash each
    token once — same CollapseProject rationale as
    ``minhash_signatures_agg``). Docs with zero tokens get the all-bits
    fingerprint, matching the majority-vote tie rule on an empty set."""
    hashed = docs.select("doc_id", F.explode(tokens_col("text")).alias("t")).select(
        "doc_id", portable_hash32(F.col("t")).alias("h")
    )
    aggs = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(0)).alias(f"c{i}")
        for i in range(32)
    ] + [F.count(F.lit(1)).alias("n")]
    per_doc = hashed.groupBy("doc_id").agg(*aggs)
    total = F.lit(0).cast("long")
    for i in range(32):
        total = total + F.when(F.col(f"c{i}") * 2 >= F.col("n"), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    fp = per_doc.select("doc_id", total.alias("simhash"))
    all_bits = F.lit((1 << 32) - 1).cast("long")
    return (
        docs.select("doc_id")
        .join(fp, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", all_bits).alias("simhash"))
    )


# ---------------------------------------------------------------------------
# Embedding near-duplicates (brute verification; LSH path in similarity.py)
# ---------------------------------------------------------------------------
def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold inner product — identical op order to the SQL
    oracle so doubles match bit-for-bit."""
    a, b = _as_double(a), _as_double(b)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """Sequential-fold cosine — identical op order to the SQL oracle so
    doubles match bit-for-bit."""
    a, b = _as_double(a), _as_double(b)
    dp = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dp / (na * nb)


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All pairs with cosine ≥ threshold (O(n²) verifier; at scale candidates
    come from hyperplane-LSH buckets, similarity.py)."""
    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# SQL fragments for the DuckDB oracle (identical arithmetic)
# ---------------------------------------------------------------------------
def minhash_signature_sql(text_expr: str) -> str:
    h = portable_hash32_sql("t") + f" % {P31}"
    perms = ", ".join(
        f"list_min(list_transform({tokens_sql(text_expr)}, t -> ({a} * ({h}) + {b}) % {P31}))"
        for a, b in zip(PERM_A, PERM_B)
    )
    return f"[{perms}]"


def dot_sql(a: str, b: str) -> str:
    prod = f"list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    return f"list_reduce({prod}, (x, y) -> x + y)"


def cosine_sql(a: str, b: str) -> str:
    prod = f"list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    na = f"sqrt(list_reduce(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
    nb = f"sqrt(list_reduce(list_transform(range(1, len({b}) + 1), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y))"
    return f"(list_reduce({prod}, (x, y) -> x + y) / ({na} * {nb}))"


# --- DD8: duplicated-span accounting -----------------------------------------
DUP_SPAN_N = 10  # tokens per span (Lee et al. 2021 use 50-token chars; 10 fits short docs)
ROLL_B = 131  # polynomial rolling-hash base; acc*B + t < P31*131 + P31 << 2^63


def dup_span_stats(
    docs: DataFrame, n: int = DUP_SPAN_N, materialize: bool = True
) -> DataFrame:
    """Per-document exact-substring duplication accounting (the signal
    behind Lee et al. 2021's 'Deduplicating Training Data Makes Language
    Models Better'): every ``n``-token window is hashed, a span is
    DUPLICATED if its hash occurs in ≥ 2 distinct documents, and each doc
    reports what fraction of its windows are duplicated — the trim/drop
    signal for boilerplate and cross-site syndication that whole-doc
    dedup (dd1/dd3) cannot see.

    Shape for scale: windows explode to (doc_id, h) WITH multiplicity —
    linear in corpus tokens; the cross-doc test is one map-side-combined
    aggregation on the hash; flagging is a semi-join of spans to the
    duplicated-hash relation (the dc1 shape, turned inward on the corpus
    itself). No pairwise doc comparison anywhere — the hash groupBy does
    the all-pairs work implicitly.

    Window hashing is a POLYNOMIAL ROLLING combine: each token is md5'd
    exactly once (O(tokens) md5s), and every n-token window hash is a
    Horner fold acc = (acc*B + t_hash) mod P over the per-token hashes —
    pure codegen integer arithmetic, no per-window string materialization.
    The previous shape concat_ws'd every window then md5'd it: O(tokens·n)
    bytes allocated and hashed. The DuckDB oracle applies the identical
    fold (list_reduce seeds with the first element, which equals a 0-seeded
    Horner step since t_hash < P), so results stay bit-identical.

    ``materialize=False`` returns the lazy plan (for .explain auditing /
    composition) but leaves the spans relation persisted with no handle
    for the caller to release — library callers in long-lived sessions
    should keep the default.
    """
    toks = tokens_col("text", distinct=False)
    # one md5 per TOKEN, computed in its own projection so the window
    # folds below reuse it instead of re-hashing per window
    tok_hash = F.transform(toks, lambda t: portable_hash32(t) % P31)
    base = docs.select("doc_id", tok_hash.alias("th"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("th") - (n - 1), F.lit(0)))
    roll = lambda i: F.aggregate(
        F.slice("th", i, n),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_B + t) % P31,
    )
    hashes = F.when(F.size("th") >= n, F.transform(starts, roll)).otherwise(
        F.array().cast("array<bigint>")
    )
    # persist: spans (the heaviest relation here) feeds THREE consumers —
    # dup_h, the flagged semi-join, and totals; unpersisted it would be
    # evaluated three times
    spans = base.select("doc_id", F.explode(hashes).alias("h")).persist()
    dup_h = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    flagged = spans.join(dup_h, "h", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans")
    )
    totals = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    result = (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0))
                / F.nullif(F.coalesce("n_spans", F.lit(0)), F.lit(0)),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )
    if materialize:
        # eager checkpoint of the small per-doc result, then release the
        # heavy spans cache — repeated invocations in one session (bench
        # min-of-N, the oracle sweep) must not accumulate cached blocks
        # (the minhash_lsh_pairs materialize discipline)
        result = result.localCheckpoint()
        spans.unpersist()
    return result


def span_hashes_df(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """(doc_id, pos, h): every ``n``-token window's rolling hash with its
    0-based start position — the shared front end of the span-dedup
    family (dd8/dd10/dd11/st10). One md5 per token, Horner fold per
    window, corpus-linear."""
    toks = tokens_col("text", distinct=False)
    tok_hash = F.transform(toks, lambda t: portable_hash32(t) % P31)
    base = docs.select("doc_id", tok_hash.alias("th"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("th") - (n - 1), F.lit(0)))
    roll = lambda i: F.aggregate(
        F.slice("th", i, n),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_B + t) % P31,
    )
    hashes = F.when(F.size("th") >= n, F.transform(starts, roll)).otherwise(
        F.array().cast("array<bigint>")
    )
    return base.select("doc_id", F.posexplode(hashes).alias("pos", "h"))


def coverage_from_dup_starts(dup_starts: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """(doc_id, n_dup_tokens): merged length of the fixed-width intervals
    [pos, pos+n-1] over duplicated window starts — gaps-and-islands per
    doc (start gap < n merges), windows doc_id-partitioned over the
    duplicated-starts relation only."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_starts.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(F.col("pos") - F.lag("pos").over(w) >= n, 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg((F.max("pos") - F.min("pos") + n).alias("ilen"))
        .groupBy("doc_id")
        .agg(F.sum("ilen").alias("n_dup_tokens"))
    )


def dup_token_coverage(
    docs: DataFrame, n: int = DUP_SPAN_N, materialize: bool = True
) -> DataFrame:
    """Per-document fraction of TOKENS inside a cross-doc-duplicated
    ``n``-token window — the number Lee et al. 2022 actually report
    ('X% of tokens are part of a duplicated 50-gram') and the trim
    signal: dd8 counts duplicated WINDOWS, but overlapping windows
    multi-count the same tokens, so window fraction and token coverage
    diverge exactly when runs of duplication are long. Coverage needs
    the merged length of the intervals [p, p+n-1] over duplicated
    window starts p.

    Shape for scale: the span hashing and the duplicated-hash relation
    are dd8's (one corpus-linear posexplode, one map-side-combined
    aggregation, one semi-join). The NEW work — interval merging — runs
    only on the duplicated STARTS, a per-doc windowed gaps-and-islands
    (fixed width n means intervals merge iff the start gap < n, so an
    island's covered length is last_start − first_start + n). The
    window partitions by doc_id over the duplicated-starts relation,
    which is at most spans-sized and usually far smaller — never a
    corpus-wide unpartitioned window. Pure integer arithmetic, so the
    DuckDB twin is bit-identical.
    """
    # spans WITH positions; persisted: feeds dup_h and the flagged starts
    spans = span_hashes_df(docs, n).persist()
    dup_h = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_starts = spans.join(dup_h, "h", "left_semi").select("doc_id", "pos")
    covered = coverage_from_dup_starts(dup_starts, n)
    totals = docs.select(
        "doc_id",
        F.size(tokens_col("text", distinct=False)).cast("long").alias("n_tokens"),
    )
    result = (
        totals.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.nullif(F.col("n_tokens"), F.lit(0)),
                6,
            ).alias("dup_token_frac"),
        )
        .orderBy("doc_id")
    )
    if materialize:
        result = result.localCheckpoint()
        spans.unpersist()
    return result


def trim_dup_spans(
    docs: DataFrame, n: int = DUP_SPAN_N, materialize: bool = True
) -> DataFrame:
    """The ACTIONABLE form of span dedup (Lee et al. 2022 §4: remove one
    occurrence is optional, remove the span everywhere is what they
    train on): drop every token that lies inside a cross-doc-duplicated
    ``n``-token window and re-emit the trimmed document. dd8 measures
    duplicated windows, dd10 measures covered tokens; this produces the
    training corpus those numbers argue for.

    Relational shape: dd10's pipeline up to the merged intervals, then
    covered token POSITIONS are exploded from each interval (output is
    bounded by the coverage, not the corpus), kept tokens are a
    doc+position anti-join, and the trimmed text is re-assembled
    in-plan by an array_sort over (pos, tok) structs — no window, no
    Python, order restored per doc without a sort shuffle. The result
    reports the trimmed text's md5 rather than shipping the full string
    through the oracle comparison (hash-checkable, size-bounded).
    """
    toks = tokens_col("text", distinct=False)
    tok_hash = F.transform(toks, lambda t: portable_hash32(t) % P31)
    base = docs.select("doc_id", toks.alias("tk"), tok_hash.alias("th"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("th") - (n - 1), F.lit(0)))
    roll = lambda i: F.aggregate(
        F.slice("th", i, n),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_B + t) % P31,
    )
    hashes = F.when(F.size("th") >= n, F.transform(starts, roll)).otherwise(
        F.array().cast("array<bigint>")
    )
    spans = base.select("doc_id", F.posexplode(hashes).alias("pos", "h")).persist()
    dup_h = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        spans.join(dup_h, "h", "left_semi")
        .select("doc_id", "pos")
        .select(
            "doc_id",
            "pos",
            F.sum(
                F.when(F.col("pos") - F.lag("pos").over(w) >= n, 1).otherwise(0)
            )
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("island"),
        )
    )
    covered = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (n - 1)).alias("e"))
        .select("doc_id", F.explode(F.sequence("s", "e")).alias("pos"))
    )
    tokens = base.select("doc_id", F.posexplode("tk").alias("pos", "tok"))
    kept = tokens.join(covered, ["doc_id", "pos"], "left_anti")
    trimmed = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("trimmed_md5"),
    )
    result = (
        docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
        .join(trimmed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("trimmed_md5", F.md5(F.lit(""))).alias("trimmed_md5"),
        )
        .orderBy("doc_id")
    )
    if materialize:
        result = result.localCheckpoint()
        spans.unpersist()
    return result


def trim_dup_spans_sql(table: str, n: int = DUP_SPAN_N) -> str:
    """DuckDB oracle for :func:`trim_dup_spans` — identical hashes,
    interval merge, covered-position anti-join, and ordered re-assembly
    (string_agg ORDER BY pos); md5 of the same token sequence."""
    toks = tokens_sql("text", distinct=False)
    th = portable_hash32_sql("t") + f" % {P31}"
    return f"""
WITH tokhash AS (
  SELECT doc_id, {toks} AS tk, list_transform({toks}, t -> {th}) AS th FROM {table}
),
spans AS (
  SELECT doc_id, i AS pos,
         list_reduce(th[i:i+{n - 1}], (a, b) -> (a * {ROLL_B} + b) % {P31}) AS h
  FROM tokhash, unnest(range(1, greatest(len(th) - {n - 1}, 0) + 1)) AS u(i)
),
dup_h AS (
  SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
dup_starts AS (
  SELECT doc_id, pos FROM spans WHERE h IN (SELECT h FROM dup_h)
),
gaps AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= {n}
              THEN 1 ELSE 0 END AS brk
  FROM dup_starts
),
islands AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM gaps
),
covered AS (
  SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM (
    SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {n - 1} AS e
    FROM islands GROUP BY 1, 2
  )
),
tokens AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM tokhash, unnest(range(1, len(tk) + 1)) AS u(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokens t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
trimmed AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS trimmed_md5
  FROM kept GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       CAST(COALESCE(tr.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(tr.trimmed_md5, md5('')) AS trimmed_md5
FROM {table} d
LEFT JOIN trimmed tr ON d.doc_id = tr.doc_id
ORDER BY d.doc_id"""


def trimmed_from_dup_starts(
    docs: DataFrame, dup_starts: DataFrame, n: int = DUP_SPAN_N
) -> DataFrame:
    """(doc_id, n_tokens, n_kept, trimmed_text) from a (doc_id, pos)
    relation of duplicated window starts — the assembly tail shared by
    :func:`trimmed_docs` (corpus-wide dup set) and the streaming batch
    trim (dup set vs index ∪ batch, ``span_ingest.batch_trimmed_df``):
    interval-merge the starts, explode covered positions (bounded by the
    coverage), anti-join kept tokens, re-assemble in-array (no sort
    shuffle, no Python)."""
    from pyspark.sql.window import Window

    toks = tokens_col("text", distinct=False)
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_starts.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(F.col("pos") - F.lag("pos").over(w) >= n, 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    covered = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (n - 1)).alias("e"))
        .select("doc_id", F.explode(F.sequence("s", "e")).alias("pos"))
    )
    tokens = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    kept = tokens.join(covered, ["doc_id", "pos"], "left_anti")
    assembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("trimmed_text"),
    )
    return (
        docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
        .join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
    )


def trimmed_docs(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """(doc_id, n_tokens, n_kept, trimmed_text): the span-trimmed corpus
    as ACTUAL TEXT — the consumable form of dd11 (which reports the md5
    so the oracle comparison stays size-bounded). This is what a curation
    recipe feeds downstream: every token inside a cross-doc-duplicated
    ``n``-token window removed, the remainder re-assembled in document
    order. Tokens are whitespace-joined, and because the tokenizer emits
    lowercase alphanumeric runs, re-tokenizing ``trimmed_text`` yields
    exactly the kept tokens — trim-then-score composes without drift.

    Same relational shape as :func:`trim_dup_spans` (corpus-linear
    explodes, doc_id-partitioned interval windows, anti-join, in-array
    re-assembly — no corpus-global window, no Python); fully lazy so a
    composing plan (cc9) keeps one optimizer scope. The spans feed two
    consumers (dup_h and the flagged-starts semi-join), so the
    explode+Horner chain runs twice — persisting it was measured a no-op
    for cc10 at sf0.1 (14.38 persisted vs 14.11 s lazy, interleaved A/B,
    plans/r17/ab_cc10.json)."""
    spans = span_hashes_df(docs, n)
    dup_h = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_starts = spans.join(dup_h, "h", "left_semi").select("doc_id", "pos")
    return trimmed_from_dup_starts(docs, dup_starts, n)


def trimmed_docs_ctes(table: str, n: int = DUP_SPAN_N, prefix: str = "tt") -> str:
    """DuckDB CTE chain (names ``{prefix}*``) ending in ``{prefix}docs``
    = (doc_id, n_tokens, n_kept, text) with ``text`` the span-trimmed
    re-assembly — the composable twin of :func:`trimmed_docs`, used by
    the cc9 oracle to score quality/lang over trimmed text with the same
    macros the raw-text recipes use."""
    toks = tokens_sql("text", distinct=False)
    th = portable_hash32_sql("t") + f" % {P31}"
    p = prefix
    return f"""{p}hash AS (
  SELECT doc_id, {toks} AS tk, list_transform({toks}, t -> {th}) AS th FROM {table}
),
{p}spans AS (
  SELECT doc_id, i AS pos,
         list_reduce(th[i:i+{n - 1}], (a, b) -> (a * {ROLL_B} + b) % {P31}) AS h
  FROM {p}hash, unnest(range(1, greatest(len(th) - {n - 1}, 0) + 1)) AS u(i)
),
{p}dup AS (
  SELECT h FROM {p}spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
{p}gaps AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= {n}
              THEN 1 ELSE 0 END AS brk
  FROM (SELECT doc_id, pos FROM {p}spans WHERE h IN (SELECT h FROM {p}dup))
),
{p}isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM {p}gaps
),
{p}cov AS (
  SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM (
    SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {n - 1} AS e
    FROM {p}isl GROUP BY 1, 2
  )
),
{p}tok AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM {p}hash, unnest(range(1, len(tk) + 1)) AS u(i)
),
{p}kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM {p}tok t LEFT JOIN {p}cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
{p}docs AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         COALESCE(a.trimmed, '') AS text
  FROM {table} d LEFT JOIN (
    SELECT doc_id, COUNT(*) AS n_kept,
           string_agg(tok, ' ' ORDER BY pos) AS trimmed
    FROM {p}kept GROUP BY 1
  ) a ON d.doc_id = a.doc_id
)"""


def dup_token_coverage_sql(table: str, n: int = DUP_SPAN_N) -> str:
    """DuckDB oracle for :func:`dup_token_coverage` — identical rolling
    hashes, duplicated-hash set, and fixed-width interval merge."""
    toks = tokens_sql("text", distinct=False)
    th = portable_hash32_sql("t") + f" % {P31}"
    return f"""
WITH tokhash AS (
  SELECT doc_id, list_transform({toks}, t -> {th}) AS th FROM {table}
),
spans AS (
  SELECT doc_id, i AS pos,
         list_reduce(th[i:i+{n - 1}], (a, b) -> (a * {ROLL_B} + b) % {P31}) AS h
  FROM tokhash, unnest(range(1, greatest(len(th) - {n - 1}, 0) + 1)) AS u(i)
),
dup_h AS (
  SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
dup_starts AS (
  SELECT doc_id, pos FROM spans WHERE h IN (SELECT h FROM dup_h)
),
gaps AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= {n}
              THEN 1 ELSE 0 END AS brk
  FROM dup_starts
),
islands AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM gaps
),
covered AS (
  SELECT doc_id, SUM(ilen) AS n_dup_tokens FROM (
    SELECT doc_id, island, MAX(pos) - MIN(pos) + {n} AS ilen
    FROM islands GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       round(COALESCE(c.n_dup_tokens, 0) / nullif(len({toks}), 0), 6) AS dup_token_frac
FROM {table} d
LEFT JOIN covered c ON d.doc_id = c.doc_id
ORDER BY d.doc_id"""


def dup_span_stats_sql(table: str, n: int = DUP_SPAN_N) -> str:
    """DuckDB oracle for :func:`dup_span_stats` — same per-token md5 and
    the same Horner fold (list_reduce's first-element seed equals the
    0-seeded fold because every token hash is already < P31)."""
    toks = tokens_sql("text", distinct=False)
    th = portable_hash32_sql("t") + f" % {P31}"
    return f"""
WITH tokhash AS (
  SELECT doc_id, list_transform({toks}, t -> {th}) AS th FROM {table}
),
spans AS (
  SELECT doc_id, unnest(list_transform(
    range(1, greatest(len(th) - {n - 1}, 0) + 1),
    i -> list_reduce(th[i:i+{n - 1}], (a, b) -> (a * {ROLL_B} + b) % {P31}))) AS h
  FROM tokhash
),
dup_h AS (
  SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY 1),
flagged AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans
  FROM spans WHERE h IN (SELECT h FROM dup_h) GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(t.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(f.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       round(COALESCE(f.n_dup_spans, 0) / nullif(COALESCE(t.n_spans, 0), 0), 6) AS dup_frac
FROM {table} d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN flagged f ON d.doc_id = f.doc_id
ORDER BY d.doc_id"""


# --- dd15: exact set-containment join (prefix filtering / PPJoin) ----------------
CONTAINMENT_THRESHOLD = 0.9


def ppjoin_threshold_micro(threshold: float) -> int:
    """The containment threshold scaled to MICROS, decimal-exact (the
    float 0.9 reprs as '0.9', never 0.8999…): all per-row PPJoin bound
    arithmetic is then exact long multiply/compare — no per-row decimals
    (BigDecimal codegen, measured 6× the join cost), no float floors."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        (Decimal(repr(threshold)) * 1_000_000).to_integral_value(
            rounding=ROUND_HALF_UP
        )
    )


def ppjoin_candidates(
    hashed: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    positional_filter: bool = True,
    length_filter: bool = True,
    sim: str = "containment",
) -> DataFrame:
    """The PPJoin candidate relation over a distinct (doc_id, h) token
    relation: deduped unordered (doc_a, doc_b) pairs guaranteed to contain
    every pair with ``sim`` ≥ ``threshold`` (prefix-filter pigeonhole;
    see :func:`ppjoin_containment_pairs` for the proof sketch and the
    positional/length filter arguments).

    ``sim='containment'`` (|A∩B|/min): prefix floor((1−t)n)+1, no size
    constraint exists so the length filter is direction-only (smaller
    side's prefix is the load-bearing one).
    ``sim='jaccard'`` (|A∩B|/|A∪B|): with na ≤ nb, J ≥ t forces
    inter ≥ t·nb ≥ t·na, so A's prefix shortens to na − ceil(t·na) + 1
    AND the REAL length filter applies (t·nb ≤ na — a pair whose sizes
    differ by more than 1/t can never qualify); the required overlap for
    the positional bound is ceil(t·(na+nb)/(1+t)).

    All threshold arithmetic is in scaled LONGS (micros): the double
    1 − 0.9 is 0.0999…98, so float floors silently miss exact-boundary
    pairs, and per-row decimal(24,6) rides Spark's BigDecimal codegen at
    6× the join cost (measured) — integer multiply/compare is both exact
    and codegen-cheap. The filter flags exist so the candidate-volume win
    is measurable (tests / skew studies) — disabling them never changes
    the verified RESULT, only the verify fan-out."""
    from pyspark.sql.window import Window as W

    if sim not in ("containment", "jaccard"):
        raise ValueError(f"unknown sim {sim!r}")
    dfreq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    sized = hashed.join(dfreq, "h").withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("doc_id"))
    )
    ranked = sized.withColumn(
        "_r", F.row_number().over(W.partitionBy("doc_id").orderBy("_df", "h"))
    )
    t_micro = ppjoin_threshold_micro(threshold)
    M = 1_000_000
    if sim == "containment":
        # _r <= floor((1-t)*n) + 1  <=>  (_r-1)*1e6 <= n*(1e6 - t_micro)
        pref_cond = (F.col("_r") - 1) * F.lit(M) <= F.col("_n") * F.lit(M - t_micro)
    else:
        # _r <= n - ceil(t*n) + 1  <=>  ceil(t*n) <= n - _r + 1
        # <=>  t_micro*n <= (n - _r + 1)*1e6
        pref_cond = F.lit(t_micro) * F.col("_n") <= (
            F.col("_n") - F.col("_r") + 1
        ) * F.lit(M)
    prefix = ranked.filter(pref_cond).select("doc_id", "h", "_r", "_n")
    posts = ranked.select("doc_id", "h", "_r", "_n")
    cond = (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") != F.col("b.doc_id"))
    if length_filter:
        # direction: only the smaller set's prefix is load-bearing (ties
        # generate both directions; pair dedup absorbs)
        cond = cond & (F.col("a._n") <= F.col("b._n"))
        if sim == "jaccard":
            # the REAL length filter: J >= t and na <= nb force nb <= na/t
            cond = cond & (F.lit(t_micro) * F.col("b._n") <= F.lit(M) * F.col("a._n"))
    joined = prefix.alias("a").join(posts.alias("b"), cond)
    if positional_filter:
        # positional upper bound on |A intersect B| for a match at ranks
        # (ra, rb): min(ra-1, rb-1) common tokens can precede h + h itself
        # + the shorter remaining suffix
        pos_bound = F.least(F.col("a._r"), F.col("b._r")) + F.least(
            F.col("a._n") - F.col("a._r"), F.col("b._n") - F.col("b._r")
        )
        if sim == "containment":
            # required overlap t*min(na, nb)
            joined = joined.filter(
                pos_bound * F.lit(M)
                >= F.lit(t_micro) * F.least(F.col("a._n"), F.col("b._n"))
            )
        else:
            # required overlap ceil(t*(na+nb)/(1+t)); integer bound >=
            # ceil(x) <=> bound*(1e6+t_micro) >= t_micro*(na+nb)
            joined = joined.filter(
                pos_bound * F.lit(M + t_micro)
                >= F.lit(t_micro) * (F.col("a._n") + F.col("b._n"))
            )
    return joined.select(
        F.least("a.doc_id", "b.doc_id").alias("doc_a"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
    ).dropDuplicates(["doc_a", "doc_b"])


JACCARD_JOIN_THRESHOLD = 0.8


def ppjoin_jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_JOIN_THRESHOLD
) -> DataFrame:
    """EXACT Jaccard-similarity join: (doc_a, doc_b, jaccard, containment)
    where J(A,B) = |A∩B| / |A∪B| >= ``threshold`` over distinct token
    sets -- the exact companion to dd3's MinHash-LSH approximation (LSH
    trades a banding miss probability for index cost; this join is
    provably complete) and to dd15's asymmetric containment. PPJoin in
    its NATIVE form (Xiao et al. WWW'08): with na <= nb, J >= t forces
    inter >= ceil(t*na), so the probe prefix SHORTENS to
    na - ceil(t*na) + 1 (vs containment's floor((1-t)n)+1), the REAL
    length filter applies (t*nb <= na -- sizes differing by more than
    1/t can never qualify), and the positional bound compares against
    ceil(t*(na+nb)/(1+t)). Exact-dup collapse first (identical docs pair
    at dd1); exact verify on the candidates; the brute-force oracle pins
    completeness -- prefix/length/positional pruning never drops a
    qualifying pair.

    Scale shape: identical to dd15's -- one keyed df aggregate, one
    doc-partitioned rank window, prefix x postings equi-join with
    integer-arithmetic pre-filters, one array_intersect per surviving
    candidate. The Jaccard prefix is ~(1-t)/(1+...) shorter and the size
    filter prunes harder than containment's, so candidates are a strict
    subset of what dd15 generates at the same threshold."""
    reps = (
        docs.groupBy(F.md5("text").alias("_k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    hashed = (
        hashed_tokens(docs.join(reps, "doc_id", "left_semi"))
        .dropDuplicates(["doc_id", "h"])
    )
    cands = ppjoin_candidates(hashed, threshold, sim="jaccard")
    toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("ts"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter / (F.size("ta") + F.size("tb") - inter)
    cont = inter / F.least(F.size("ta"), F.size("tb"))
    return (
        cands.join(toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")), "doc_a")
        .join(toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")), "doc_b")
        # threshold the UNROUNDED ratio (dc2's convention)
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
            F.round(cont, 6).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


def ppjoin_containment_pairs(
    docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """EXACT set-containment join: (doc_a, doc_b, containment, jaccard)
    where containment = |A∩B| / min(|A|, |B|) ≥ ``threshold`` over distinct
    token sets — the asymmetric near-dup relation Jaccard misses (an
    excerpt or quoted passage is CONTAINED in its source at containment
    ~1.0 while Jaccard is tiny). Xiao et al.'s prefix-filtering bound
    (PPJoin, WWW'08) makes the join exact without all-pairs:

    order every doc's tokens by ascending global document frequency
    (rarest first, hash tie-break) and take its PREFIX of
    ``floor((1-t)·|A|) + 1`` tokens. If C(A,B) ≥ t with |A| ≤ |B|, then
    fewer than ``(1-t)|A| + 1`` of A's tokens fall outside B, so at least
    one PREFIX token of A is in B — joining prefix(A) against the full
    postings finds every qualifying pair, NO false negatives. The
    exact-containment verify prunes the false positives.

    Two further PPJoin filters prune candidates BEFORE the collect_set
    verify joins (Xiao et al. WWW'08 §3.2), both exactness-preserving:

    - **length/direction filter**: the pigeonhole only needs the
      SMALLER set's prefix to hit the larger set's postings, so the
      candidate join keeps only rows with prefix-side |A| ≤ postings-
      side |B| (ties generate both directions; the pair dedup absorbs
      them) — halves the candidate volume for free.
    - **positional filter**: both sides carry their (rank, size) under
      the SAME global (df, h) order, so a match on token h at ranks
      (ra, rb) bounds the overlap row-locally:
      ``overlap ≤ min(ra-1, rb-1) + 1 + min(na-ra, nb-rb)`` — common
      tokens before h number at most min(ra-1, rb-1) (identical sort
      order both sides), h itself is 1, and after h at most the shorter
      remaining suffix. Rows whose bound falls below the required
      overlap ``t·min(na, nb)`` (decimal-exact) are dropped; for a
      QUALIFYING pair every generating row's bound ≥ its true overlap
      ≥ the requirement, so no qualifying pair loses all its rows — the
      filter only sheds rows the verify would have rejected at
      |cands|·|tokens| cost.

    Scale shape: exact-duplicate texts collapse to one representative
    first (md5-group min — the hot-pile discipline; identical docs pair
    at dd1, not here), candidates are bounded by the PPJoin prefix bound
    Σ_doc Σ_{h ∈ prefix(doc)} df(h) — ascending-df ordering minimizes it
    and real (Zipf-vocabulary) corpora keep prefixes rare; a degenerate
    tiny-vocabulary corpus degrades toward the true pair count, never
    silently drops a pair (the positional bound caps the verify fan-out
    a skewed vocabulary would otherwise pay). The df relation is one
    keyed aggregate; the per-doc ordering is a doc_id-partitioned
    window; the verify is one array_intersect per surviving candidate."""
    reps = (
        docs.groupBy(F.md5("text").alias("_k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    hashed = (
        hashed_tokens(docs.join(reps, "doc_id", "left_semi"))
        .dropDuplicates(["doc_id", "h"])
    )
    cands = ppjoin_candidates(hashed, threshold)
    toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("ts"))
    inter = F.size(F.array_intersect("ta", "tb"))
    cont = inter / F.least(F.size("ta"), F.size("tb"))
    jac = inter / (F.size("ta") + F.size("tb") - inter)
    return (
        cands.join(toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")), "doc_a")
        .join(toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")), "doc_b")
        # threshold the UNROUNDED ratio (dc2's convention)
        .filter(cont >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
