"""Corpus-management op tests: deterministic splits, stratified sampling,
sequence packing, decontamination, PII scrubbing, multiprobe IVF."""

import hashlib

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata import corpus as CP
from pdf_etl_pipeline_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_hash_split_stable_under_repartition(spark, docs):
    """Membership is a pure function of doc_id — resharding the input must
    not move any document between splits (the property rand() lacks)."""
    a = {r.doc_id: r.split for r in CP.hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in CP.hash_split(docs.repartition(7)).collect()}
    assert a == b
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) <= {"train", "val", "test"}
    # 90/5/5 within loose bounds on the small table
    assert counts["train"] / len(a) > 0.8


def test_stratified_sample_nested(spark, docs):
    """Raising a stratum's rate strictly grows the sample (hash-bucket
    membership is monotone in the rate — nested-sample property)."""
    low = {r.doc_id for r in CP.stratified_sample(docs, {"en": 1000}).collect()}
    high = {r.doc_id for r in CP.stratified_sample(docs, {"en": 5000}).collect()}
    assert low <= high
    assert len(high) > len(low)
    langs = {r.lang for r in CP.stratified_sample(docs, {"en": 5000}).collect()}
    assert langs == {"en"}


def test_pack_sequences_matches_naive_global_cumsum(spark, docs):
    """The two-level (bucketed) cumulative sum must equal the naive
    single-partition global window it replaces."""
    out = CP.pack_sequences(docs).collect()
    n_tok = F.size(CP.tokens_col("text", distinct=False)).cast("long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = (
        docs.select("doc_id", n_tok.alias("n_tokens"))
        .withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .collect()
    )
    naive_off = {r.doc_id: r.start_offset for r in naive}
    for r in out:
        assert r.start_offset == naive_off[r.doc_id]
        assert r.shard_id == r.start_offset // CP.PACK_BUDGET


def test_pack_sequences_shards_respect_budget(spark, docs):
    """Each shard's token total stays under budget + the overflow doc
    (greedy contiguous fill overflows by at most one document)."""
    rows = CP.pack_sequences(docs).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r)
    for shard, members in by_shard.items():
        total = sum(m.n_tokens for m in members)
        largest = max(m.n_tokens for m in members)
        assert total < CP.PACK_BUDGET + largest


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc sharing a 5-gram run with a benchmark doc (doc_id %
    BENCH_MOD == 0) is flagged with the right overlap count; clean docs
    and benchmark docs themselves are absent."""
    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (0, bench_text),  # benchmark (0 % 97 == 0)
        (1, "xx " + bench_text + " yy"),  # contaminated: shares 5-gram runs
        (2, "nothing in common with anything else at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.n_shared_shingles for r in CP.decontaminate(docs).collect()}
    # doc 1 contains all 4 of the benchmark's 5-grams (8 tokens -> 4 shingles)
    assert out == {1: 4}


def test_pii_scrub_counts_and_digest(spark):
    text = (
        "reach me at jane.doe+test@example.org or 555-123-4567; "
        "ssn 987-65-4321 backup bob@corp.io"
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = CP.pii_scrub(docs).collect()[0]
    assert (row.n_emails, row.n_phones, row.n_ssns) == (2, 1, 1)
    expected = (
        "reach me at [EMAIL] or [PHONE]; ssn [SSN] backup [EMAIL]"
    )
    assert row.scrub_md5 == hashlib.md5(expected.encode()).hexdigest()


def test_pack_counts_property(spark):
    """Greedy packing invariants over generated token counts: offsets are
    the exact prefix sums, shard ids are monotone non-decreasing in doc_id,
    and every shard is contiguous."""
    from hypothesis import given, settings, strategies as st
    from pdf_etl_pipeline_spark.llmdata.corpus import PACK_BUDGET, pack_counts

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=3 * PACK_BUDGET), min_size=1, max_size=40)
    )
    def run(counts):
        rows = [(i * 977, n) for i, n in enumerate(counts)]  # sparse, cross-bucket ids
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = sorted(pack_counts(df).collect(), key=lambda r: r.doc_id)
        off = 0
        prev_shard = 0
        for r, (_, n) in zip(out, rows):
            assert r.start_offset == off
            assert r.shard_id == off // PACK_BUDGET
            assert r.shard_id >= prev_shard
            off += n
            prev_shard = r.shard_id

    run()


def test_repetition_stats_flags_repetitive_doc(spark):
    from pdf_etl_pipeline_spark.llmdata.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham spam ham"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    # doc 1: 9 bigrams, 'spam ham' x5 -> top frac 5/9; every trigram repeats
    assert out[1].n_bigrams == 9
    assert abs(out[1].top_bigram_frac - 5 / 9) < 1e-6
    assert out[1].dup_trigram_frac == 1.0
    # doc 2: all bigrams unique -> top frac 1/9, no duplicated trigrams
    assert abs(out[2].top_bigram_frac - 1 / 9) < 1e-6
    assert out[2].dup_trigram_frac == 0.0


@pytest.mark.slow
def test_ivf_multiprobe_recall_not_below_single_probe(spark, sf_dir):
    """nprobe=2 candidates are a superset of nprobe=1 per query, so
    recall@5 vs the exact baseline can only improve."""
    from pdf_etl_pipeline_spark.llmdata.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [30, 31, 32, 33, 34]
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, qids, k=5).collect()}
    p1 = {(r.query_id, r.cand_id) for r in ivf_topk(emb, qids, k=5, nprobe=1).collect()}
    p2 = {(r.query_id, r.cand_id) for r in ivf_topk(emb, qids, k=5, nprobe=2).collect()}
    assert len(exact & p2) >= len(exact & p1)


def test_frequent_tokens_partitioning_independent(spark):
    """The MG candidate set varies with partitioning, but the exact-recount
    output may not — every token above threshold must survive ANY layout."""
    from pdf_etl_pipeline_spark.llmdata.corpus import frequent_tokens

    rows = [(i, "hot " * 50 + f"rare{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'hot' is 2000/2040 of tokens; each rare{i} is 1/2040 (< 1%)
    a = [(r.tok, r.cnt) for r in frequent_tokens(docs).collect()]
    b = [(r.tok, r.cnt) for r in frequent_tokens(docs.repartition(13)).collect()]
    c = [(r.tok, r.cnt) for r in frequent_tokens(docs.coalesce(1)).collect()]
    assert a == b == c == [("hot", 2000)]


def test_unigram_logprob_hand_computed(spark):
    """tx7 on a 3-doc corpus with a hand-computable unigram distribution:
    'a' appears 4/8 times, 'b' 2/8, 'c' and 'd' 1/8 each; doc scores are
    the mean of per-token ln(p) (rounded to 6 as the engine contract)."""
    import math

    from pdf_etl_pipeline_spark.llmdata.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a a b d"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    lp = {t: round(math.log(c / 8), 6) for t, c in {"a": 4, "b": 2, "c": 1, "d": 1}.items()}
    for d, toks in ((1, ["a", "a", "b", "c"]), (2, ["a", "a", "b", "d"])):
        assert out[d].n_tokens == 4
        # 1.1e-6 tolerance: Python round() is banker's, the engines round
        # HALF_UP — they differ by exactly 1e-6 on .5 boundaries (doc 1's
        # mean is -1.2130075, a boundary case; both ENGINES agree, which is
        # what the tx7 oracle pins)
        assert abs(out[d].avg_logprob - sum(lp[t] for t in toks) / 4) < 1.1e-6
    assert out[3].n_tokens == 0 and out[3].avg_logprob is None
    # the common-word doc scores higher than the rare-word doc would if we
    # replace 'a a' with rare singletons
    rare = spark.createDataFrame([(9, "x y b c")], "doc_id long, text string")
    out9 = unigram_logprob(docs.unionAll(rare)).filter("doc_id in (1, 9)").collect()
    scores = {r.doc_id: r.avg_logprob for r in out9}
    assert scores[1] > scores[9]


def test_bigram_logprob_hand_computed(spark):
    """tx10 on a 3-doc corpus with hand-computable bigram counts under
    add-k smoothing (k=0.5): P(w2|w1) = (c12 + .5) / (c1 + .5*|V|)."""
    import math

    from pdf_etl_pipeline_spark.llmdata.text import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "a"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    # corpus bigrams: (a,b)x3 (doc1 twice, doc2 once), (b,a)x1, (b,c)x1
    # head counts: a->3, b->2 ; |V| = 3 (a, b, c)
    lp = {
        ("a", "b"): round(math.log((3 + 0.5) / (3 + 0.5 * 3)), 6),
        ("b", "a"): round(math.log((1 + 0.5) / (2 + 0.5 * 3)), 6),
        ("b", "c"): round(math.log((1 + 0.5) / (2 + 0.5 * 3)), 6),
    }
    for d, bgs in (
        (1, [("a", "b"), ("b", "a"), ("a", "b")]),
        (2, [("a", "b"), ("b", "c")]),
    ):
        assert out[d].n_bigrams == len(bgs)
        want = sum(lp[b] for b in bgs) / len(bgs)
        # 1.1e-6: banker's vs HALF_UP rounding at the 6th decimal
        assert abs(out[d].avg_logprob - want) < 1.1e-6
    # single-token and empty docs: 0 bigrams, null score
    for d in (3, 4):
        assert out[d].n_bigrams == 0 and out[d].avg_logprob is None
    # a doc of corpus-frequent bigrams outscores one of rare transitions
    assert out[1].avg_logprob > out[2].avg_logprob


def test_tfidf_rare_term_outranks_common(spark):
    """tx8: a term unique to one doc must outscore a corpus-wide term in
    that doc, and the hand-computed score must match (idf rounded to 6)."""
    import math

    from pdf_etl_pipeline_spark.llmdata.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran"), (3, "the the the zebra")],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.tok] = (r.rank, r.score)
    # at equal tf, 'cat' (df=1) beats 'the' (df=3) in doc 1
    assert by_doc[1]["cat"][0] < by_doc[1]["the"][0]
    idf_rare = round(math.log((3 + 1) / (1 + 1)) + 1, 6)
    assert abs(by_doc[1]["cat"][1] - round(1 * idf_rare, 6)) < 1e-9
    idf_the = round(math.log((3 + 1) / (3 + 1)) + 1, 6)  # = 1.0
    assert abs(by_doc[3]["the"][1] - round(3 * idf_the, 6)) < 1e-9
    # ranks are dense 1..k and unique per doc
    for d, toks in by_doc.items():
        ranks = sorted(rank for rank, _ in toks.values())
        assert ranks == list(range(1, len(ranks) + 1))


def test_char_entropy_bounds_and_extremes(spark):
    """tx9: constant text has entropy 0; a uniform alphabet doc hits
    ln(n_symbols); everything in between is bounded by ln(n_symbols)."""
    import math

    from pdf_etl_pipeline_spark.llmdata.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdefgh"), (3, "hello world"), (4, "!!!???")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in char_entropy(docs).collect()}
    assert out[1].entropy == 0.0 and out[1].n_symbols == 1
    assert abs(out[2].entropy - round(math.log(8), 6)) < 1e-5
    assert 0.0 < out[3].entropy <= math.log(out[3].n_symbols) + 1e-9
    # doc 4 has no [a-z0-9 ] chars at all -> null entropy, zero counts
    assert out[4].n_alpha == 0 and out[4].entropy is None


def test_weighted_sample_prefers_heavy_docs(spark):
    """sp4: with weights 1000:1, heavy docs must dominate the sample, and
    the draw must be identical under a different partitioning."""
    rows = [(i, 1000 if i < 50 else 1) for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = CP.weighted_sample(docs, k=40).collect()
    heavy = sum(1 for r in out if r.n_chars == 1000)
    # E[heavy] ~= 40 * (50*1000)/(50*1000+950) ~= 39; any deterministic
    # hash draw this lopsided keeps it >= 30
    assert heavy >= 30
    assert [r.doc_id for r in out] == [
        r.doc_id for r in CP.weighted_sample(docs.repartition(13), k=40).collect()
    ]
    # ranks are 1..k in key order
    assert [r.rank for r in out] == list(range(1, 41))


def test_weighted_sample_excludes_zero_weight_docs(spark):
    """sp4: n_chars <= 0 means zero inclusion probability under A-ES; the
    key would be ln(u)/0 = -Inf (or NaN at u == 1, which Spark's DESC sort
    orders above every double) — such docs must never appear, even when k
    exceeds the eligible population."""
    rows = [(1, 100), (2, 0), (3, 50), (4, -5), (5, 0)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = CP.weighted_sample(docs, k=10).collect()
    assert sorted(r.doc_id for r in out) == [1, 3]  # only positive-weight docs
    assert all(r.n_chars > 0 for r in out)


def test_source_cap_keeps_top_quality(spark, sf_dir):
    """cc5: no source exceeds the cap, and every kept doc's quality is >=
    every dropped doc's quality within its source (ties broken by id)."""
    from pdf_etl_pipeline_spark.llmdata.curation import source_cap
    from pdf_etl_pipeline_spark.llmdata.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    kept = source_cap(docs, cap=3).collect()
    per_src = {}
    for r in kept:
        per_src.setdefault(r.source, []).append(r)
    scored = {
        (r.doc_id): r.quality_score
        for r in docs.join(
            text_stats(docs).select("doc_id", "quality_score"), "doc_id"
        ).collect()
    }
    all_docs = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    for src, rows in per_src.items():
        assert len(rows) <= 3
        worst_kept = min((r.quality_score, -r.doc_id) for r in rows)
        kept_ids = {r.doc_id for r in rows}
        for did, s in all_docs.items():
            if s == src and did not in kept_ids:
                assert (scored[did], -did) <= worst_kept


def test_cohort_retention_invariants(spark, sf_dir):
    """ev1: week-0 retention is exactly 1.0, every retention <= 1, and
    column n_users never exceeds cohort_size."""
    from pdf_etl_pipeline_spark.catalog.extended_q import ev1_cohort_retention

    out = ev1_cohort_retention(spark, sf_dir).collect()
    assert out, "no cohorts on the events table"
    for r in out:
        assert r.n_users <= r.cohort_size
        assert r.retention <= 1.0
        if r.week_offset == 0:
            assert r.retention == 1.0
    # offsets are non-negative (min ts defines week 0)
    assert min(r.week_offset for r in out) == 0


def test_bm25_semantics(spark):
    """ir1: a doc containing ALL query terms outranks a doc with one term;
    term repetition saturates (k1) rather than growing linearly; docs
    sharing no term never appear."""
    from pdf_etl_pipeline_spark.llmdata.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle partition join"),
            (2, "spark spark spark spark spark spark spark spark"),
            (3, "cooking recipes and gardens"),
            (4, "spark shuffle"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, {1: ["spark", "shuffle", "partition"]}, k=4).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # no shared term -> never scored
    assert ids[0] == 1  # all three terms beat any single-term doc
    scores = {r.doc_id: r.score for r in out}
    # saturation: 8x repetition of one term must NOT reach the 2-term doc
    assert scores[2] < scores[4]


def test_naive_bayes_recovers_separable_classes(spark):
    """ml2: with disjoint class vocabularies the self-trained classifier
    reproduces every label; a doc of UNSEEN tokens still classifies (via
    the smoothed floor + prior, favoring the majority class)."""
    from pdf_etl_pipeline_spark.llmdata.classify import naive_bayes_classify

    rows = [(i, "apple banana cherry fruit", "food") for i in range(6)]
    rows += [(10 + i, "gear piston engine torque", "cars") for i in range(3)]
    rows += [(20, "zzz qqq xxx", "food")]  # unseen tokens at train AND test
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in naive_bayes_classify(docs).collect()}
    for i in range(6):
        assert out[i].lang_pred == "food"
    for i in range(3):
        assert out[10 + i].lang_pred == "cars"
    # all-unseen-token doc: every class gets the same floor terms, so the
    # prior decides — 'food' has 7 of 10 docs
    assert out[20].lang_pred == "food"
    assert all(r.log_score < 0 for r in out.values())


def test_token_budget_mix_invariants(spark, sf_dir):
    """cc6: admitted docs are the quality-ranked prefix, offsets are exact
    prefix sums, the pre-boundary tokens fit the budget, and raising the
    budget only grows the admitted set (nested mixes)."""
    from pdf_etl_pipeline_spark.llmdata.curation import token_budget_mix

    docs = load_table(spark, sf_dir, "documents")
    small = token_budget_mix(docs, budget=300).collect()
    large = token_budget_mix(docs, budget=900).collect()
    ids_small = {r.doc_id for r in small}
    ids_large = {r.doc_id for r in large}
    assert ids_small < ids_large
    by_src = {}
    for r in sorted(small, key=lambda r: (r.source, r.rank)):
        by_src.setdefault(r.source, []).append(r)
    for src, rows in by_src.items():
        # ranks are a contiguous prefix 1..m and offsets are prefix sums
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        off = 0
        for r in rows:
            assert r.start_offset == off
            assert r.start_offset < 300
            off += r.n_tokens


def test_rrf_fusion_semantics(spark):
    """ss9: a doc ranked moderately in BOTH lists outranks a doc ranked
    top-1 in only one (the consensus property RRF is chosen for), scores
    match the hand formula, and n_lists counts the contributing lists."""
    from pdf_etl_pipeline_spark.llmdata.retrieval import RRF_K, rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)], "query_id long, doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(1, 20, 1), (1, 30, 2), (1, 40, 3)], "query_id long, doc_id long, rank long"
    )
    out = {r.doc_id: r for r in rrf_fuse([lex, sem], k=10).collect()}
    # doc 20: rank 2 + rank 1 beats doc 10 (rank 1, one list only)
    assert out[20].rank == 1 and out[30].rank == 2
    assert out[10].n_lists == 1 and out[20].n_lists == 2
    # terms round to 9 before the exact decimal sum (engine contract)
    expected_20 = round(round(1 / (RRF_K + 2), 9) + round(1 / (RRF_K + 1), 9), 9)
    assert abs(out[20].rrf_score - expected_20) < 1e-12
    assert out[40].n_lists == 1


def test_near_decontamination_flags_paraphrased_benchmark(spark):
    """dc2: a corpus doc that is a benchmark doc with one word swapped
    (Jaccard ~0.96) is flagged with the right jaccard; an unrelated doc
    is not; benchmark docs themselves never appear on the corpus side."""
    base = " ".join(f"tok{i}" for i in range(50))
    edited = base.replace("tok25", "changed")
    rows = [
        (0, base),            # benchmark (0 % 97 == 0)
        (1, edited),          # near-duplicate of the benchmark
        (2, "entirely different words " * 10),
        (97, base + " extra"),  # ALSO benchmark (97 % 97 == 0)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_id, r.bench_id): r.jaccard for r in CP.near_decontaminate(docs).collect()}
    assert (1, 0) in out and out[(1, 0)] >= 0.9
    assert all(d != 2 for d, _ in out)
    assert all(d % 97 != 0 for d, _ in out)  # corpus side excludes benchmarks


def test_nb_confusion_matrix_properties(spark, sf_dir):
    """ml3: row fractions sum to 1 per true class and counts total the
    corpus size. (No diagonal-dominance assertion: the synthetic corpus's
    lang labels do NOT correlate with vocabulary, and the eval op's job
    is to report that honestly — separable-class accuracy is pinned by
    test_naive_bayes_recovers_separable_classes instead.)"""
    from pdf_etl_pipeline_spark.catalog.text_q import ml3_nb_confusion

    rows = ml3_nb_confusion(spark, sf_dir).collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r.lang_true, []).append(r)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    for lt, rs in by_true.items():
        assert abs(sum(r.row_frac for r in rs) - 1.0) < 1e-4
        assert all(r.n > 0 for r in rs)


@pytest.mark.slow
def test_curation_funnel_consistent_with_cc4(spark, sf_dir):
    """cc7: stage counts are monotone non-increasing, raw matches the
    corpus, and the last stage equals cc4's survivor set exactly (the
    funnel reports the SAME recipe it narrates)."""
    from pdf_etl_pipeline_spark.catalog.curation_q import (
        cc4_full_curation,
        cc7_curation_funnel,
    )
    from pdf_etl_pipeline_spark.session import load_table

    rows = sorted(cc7_curation_funnel(spark, sf_dir).collect(), key=lambda r: r.stage)
    assert [r.stage_name for r in rows] == [
        "raw", "cluster_dedup", "lang", "quality", "repetition", "decontaminated",
    ]
    assert rows[0].n_docs == load_table(spark, sf_dir, "documents").count()
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs and b.n_tokens <= a.n_tokens
    final = cc4_full_curation(spark, sf_dir)
    assert rows[-1].n_docs == final.count()
    assert rows[-1].doc_retention == round(rows[-1].n_docs / rows[0].n_docs, 6)


@pytest.mark.slow
def test_cc9_trimmed_funnel_consistency(spark, sf_dir):
    """cc9: the span_trim stage keeps cluster_dedup's doc count while its
    token column drops by EXACTLY the keepers' trimmed-away tokens; stage
    counts stay monotone; and the trimmed text re-tokenizes to exactly
    the kept tokens (trim-then-score composes without drift)."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.catalog.curation_q import cc9_trimmed_curation
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        near_dup_clusters,
        tokens_col,
        trimmed_docs,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(cc9_trimmed_curation(spark, sf_dir).collect(), key=lambda r: r.stage)
    assert [r.stage_name for r in rows] == [
        "raw", "cluster_dedup", "span_trim", "lang", "quality",
    ]
    assert rows[0].n_docs == docs.count()
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs and b.n_tokens <= a.n_tokens
    # the trim stage drops tokens, never documents
    assert rows[2].n_docs == rows[1].n_docs
    # its bite equals the keepers' (n_tokens - n_kept) sum, and is real
    keepers = (
        near_dup_clusters(docs, threshold=0.9, pairs=shared_pairs(spark, sf_dir, 0.9))
        .filter(F.col("is_keeper"))
        .select("doc_id")
    )
    trimmed = trimmed_docs(docs).join(keepers, "doc_id", "left_semi")
    removed = trimmed.agg(F.sum(F.col("n_tokens") - F.col("n_kept"))).first()[0] or 0
    assert rows[1].n_tokens - rows[2].n_tokens == removed
    assert removed > 0  # the corpus plants duplicated spans
    # compose-without-drift: re-tokenizing trimmed_text yields the kept tokens
    assert (
        trimmed_docs(docs)
        .filter(F.size(tokens_col("trimmed_text", distinct=False)) != F.col("n_kept"))
        .count()
        == 0
    )


@pytest.mark.slow
def test_cc10_manifest_consistent_with_cc9_funnel(spark, sf_dir):
    """cc10: the trimmed-shard manifest accounts for EXACTLY the cc9
    quality-stage survivors — doc and token totals match the funnel's
    last stage, shard ids are contiguous from 0, and shard doc-id ranges
    are disjoint and ordered (greedy doc_id-order packing)."""
    from pdf_etl_pipeline_spark.catalog.curation_q import (
        cc9_trimmed_curation,
        cc10_trimmed_shard_manifest,
    )

    funnel = {r.stage_name: r for r in cc9_trimmed_curation(spark, sf_dir).collect()}
    shards = sorted(
        cc10_trimmed_shard_manifest(spark, sf_dir).collect(), key=lambda r: r.shard_id
    )
    assert [r.shard_id for r in shards] == list(range(len(shards)))
    assert sum(r.n_docs for r in shards) == funnel["quality"].n_docs
    assert sum(r.total_tokens for r in shards) == funnel["quality"].n_tokens
    for a, b in zip(shards, shards[1:]):
        assert a.first_doc_id <= a.last_doc_id < b.first_doc_id


def test_tx13_novelty_first_occurrence_semantics(spark, tmp_path):
    """tx13: a verbatim repeat scores 0, the original scores 1, a
    half-overlapping doc scores exactly its new-gram share, and a doc
    under 3 tokens abstains (null fraction)."""
    from pdf_etl_pipeline_spark.catalog.text_q import tx13_ngram_novelty

    rows = [
        (0, "a b c d e"),        # grams: abc, bcd, cde -> all first here
        (1, "a b c d e"),        # verbatim repeat -> 0 novel
        (2, "c d e x y z"),      # cde seen; dex, exy, xyz new -> 3/4
        (3, "hi"),               # < 3 tokens -> no grams
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r.doc_id: r for r in tx13_ngram_novelty(spark, str(tmp_path)).collect()}
    assert (out[0].n_grams, out[0].n_novel, out[0].novelty_frac) == (3, 3, 1.0)
    assert (out[1].n_grams, out[1].n_novel, out[1].novelty_frac) == (3, 0, 0.0)
    assert (out[2].n_grams, out[2].n_novel, out[2].novelty_frac) == (4, 3, 0.75)
    assert (out[3].n_grams, out[3].n_novel, out[3].novelty_frac) == (0, 0, None)


def test_zipf_fit_recovers_planted_exponent(spark, sf_dir):
    """tx11: a corpus whose token counts follow cnt = C * rank^-s exactly
    must recover slope = -s (OLS on a perfectly linear log-log relation),
    and the real corpus yields a negative slope with meaningful r2."""
    import pdf_etl_pipeline_spark.catalog.text_q as TQ

    real = TQ.tx11_zipf_fit(spark, sf_dir).collect()[0]
    assert real.slope < 0 and 0 <= real.r2 <= 1

    # plant cnt = 1024 * rank^-1 over 6 tokens: tok i appears 1024//i times
    rows = []
    for i in range(1, 7):
        rows += [(len(rows) + j, f"tok{i:02d}") for j in range(1024 // i)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = TQ.load_table
    TQ.load_table = lambda s, d, t: docs
    try:
        out = TQ.tx11_zipf_fit(spark, sf_dir).collect()[0]
    finally:
        TQ.load_table = orig
    # counts 1024,512,341,256,204,170 are floor'd so the fit is near -1,
    # not exact; r2 must be ~1 on the near-perfect line
    assert abs(out.slope - (-1.0)) < 0.01 and out.r2 > 0.9999


def test_ppl_buckets_ccnet_tertiles(spark):
    """tx12: repetitive (predictable-bigram) docs land in head, unique-
    vocabulary docs in tail; tertile sizes are balanced; buckets are
    consistent with the log_ppl ordering; <2-token docs are excluded."""
    from pdf_etl_pipeline_spark.llmdata.text import ppl_buckets

    rows = [
        # three maximally predictable docs: one repeated bigram
        (0, "aa bb aa bb aa bb aa bb"),
        (1, "aa bb aa bb aa bb"),
        (2, "aa bb aa bb aa bb aa bb aa bb"),
        # three medium docs: common words, varied order
        (3, "aa bb cc dd aa cc"),
        (4, "bb aa dd cc bb dd"),
        (5, "cc dd bb aa dd aa"),
        # three unique-vocabulary docs: every bigram seen once
        (6, "ee ff gg hh ii"),
        (7, "jj kk ll mm nn"),
        (8, "oo pp qq rr ss"),
        # excluded: fewer than 2 tokens -> no bigram score
        (9, "zz"),
        (10, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ppl_buckets(docs).collect()
    assert [r.doc_id for r in out] == list(range(9))  # 9 and 10 excluded
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    # the three repeated-bigram docs are unambiguously the most fluent
    assert {r.doc_id for r in by_bucket["head"]} == {0, 1, 2}
    # the single highest-log-ppl doc must be in tail (ties at the 2/3
    # threshold may pull tied docs into middle — quantile semantics)
    worst = max(out, key=lambda r: r.log_ppl)
    assert worst.bucket == "tail"
    # bucket boundaries respect the score order
    assert max(r.log_ppl for r in by_bucket["head"]) <= min(
        r.log_ppl for r in by_bucket["middle"]
    )
    assert max(r.log_ppl for r in by_bucket["middle"]) <= min(
        r.log_ppl for r in by_bucket["tail"]
    )
    # deterministic: a second run reproduces identical rows
    assert [tuple(r) for r in ppl_buckets(docs).collect()] == [tuple(r) for r in out]


def test_span_corruption_matches_python_reference(spark):
    """sp5: the mask draw is a deterministic salted hash, so the whole
    encoder/decoder pair is reproducible in pure Python — recompute the
    mask, spans, sentinel numbering, corrupted input and target for each
    doc and compare both md5s. Also pins: no-mask docs round-trip with an
    empty target, and re-running yields identical rows."""
    import hashlib

    from pdf_etl_pipeline_spark.llmdata.corpus import (
        MASK_RATE_PCT,
        MASK_SALT,
        span_corruption,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
        (3, "one two"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_corruption(docs).collect()}

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    for doc_id, text in rows:
        toks = [t for t in "".join(
            c if c.isalnum() else " " for c in text.lower()
        ).split() if t]
        masked = [
            h32(f"{MASK_SALT}{doc_id}:{p}") % 100 < MASK_RATE_PCT
            for p in range(1, len(toks) + 1)
        ]
        spans, cur = [], None
        for i, m in enumerate(masked):
            if m:
                if cur is not None and i == cur[-1] + 1:
                    cur.append(i)
                else:
                    cur = [i]
                    spans.append(cur)
        corrupted, k = [], 0
        for i, t in enumerate(toks):
            if masked[i]:
                if i == spans[k][0]:
                    corrupted.append(f"<extra_id_{k}>")
                if i == spans[k][-1]:
                    k += 1
            else:
                corrupted.append(t)
        target = " ".join(
            f"<extra_id_{j}> " + " ".join(toks[i] for i in sp)
            for j, sp in enumerate(spans)
        )
        r = out[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_masked == sum(masked)
        assert r.n_spans == len(spans)
        assert r.corrupted_md5 == md5(" ".join(corrupted)), doc_id
        assert r.targets_md5 == md5(target), doc_id

    # some doc in the fixture actually got masked (rate 15% over 40+ tokens)
    assert any(r.n_masked > 0 for r in out.values())
    again = {r.doc_id: r for r in span_corruption(docs).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in again.items()}


def test_cc8_temperature_mix_hand_computed(spark, tmp_path):
    """cc8: sources with 100/400/2500 tokens -> sqrt weights 10/20/50
    (z=80) -> weights .125/.25/.625, 2000-token quotas 250/500/1250,
    epochs 2.5/1.25/0.5 — small sources oversampled, big ones cut."""
    from pdf_etl_pipeline_spark.catalog.curation_q import cc8_temperature_mix

    def doc(i, src, k):
        return (i, " ".join(f"w{j}" for j in range(k)), "en", src, 0)

    rows = (
        [doc(1, "tiny", 100)]
        + [doc(2, "mid", 200), doc(3, "mid", 200)]
        + [doc(i, "big", 500) for i in range(4, 9)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in cc8_temperature_mix(spark, str(tmp_path)).collect()}
    assert out["tiny"].n_tokens == 100 and out["big"].n_tokens == 2500
    assert (out["tiny"].weight, out["mid"].weight, out["big"].weight) == (0.125, 0.25, 0.625)
    assert (out["tiny"].quota_tokens, out["mid"].quota_tokens, out["big"].quota_tokens) == (250, 500, 1250)
    assert (out["tiny"].epochs, out["mid"].epochs, out["big"].epochs) == (2.5, 1.25, 0.5)


def test_tx14_vocab_growth_hand_computed_and_dedup_flattening(spark):
    """tx14 on a planted 10-doc corpus (one bucket per doc): doc i =
    "common w{i}" gives cum_vocab = 2, 3, 4, ... (the shared token plus
    one fresh token per doc). Replacing the last five docs with copies
    of doc 0 FLATTENS the vocabulary curve while cum_tokens keeps
    growing — the dedup-failure signature the curve exists to expose."""
    from pdf_etl_pipeline_spark.llmdata.text import vocab_growth

    fresh = spark.createDataFrame(
        [(i, f"common w{i}") for i in range(10)], "doc_id long, text string"
    )
    rows = {r.bucket: r for r in vocab_growth(fresh).collect()}
    assert len(rows) == 10
    for b in range(10):
        assert (rows[b].n_docs, rows[b].cum_docs) == (1, b + 1)
        assert rows[b].cum_tokens == 2 * (b + 1)
        assert rows[b].cum_vocab == b + 2

    dupped = spark.createDataFrame(
        [(i, f"common w{i}" if i < 5 else "common w0") for i in range(10)],
        "doc_id long, text string",
    )
    rows = {r.bucket: r for r in vocab_growth(dupped).collect()}
    assert rows[9].cum_tokens == 20  # token volume unchanged
    assert rows[4].cum_vocab == 6 and rows[9].cum_vocab == 6  # vocab flat


# --- dq8 split leakage ---------------------------------------------------------


def test_split_leakage_accounts_every_pair(spark, docs):
    """n_pairs over all split combinations equals the pair relation's size,
    and cross-split rows are exactly the is_leak ones."""
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, 0.9)
    out = CP.split_leakage(docs, pairs).collect()
    assert sum(r.n_pairs for r in out) == pairs.count()
    for r in out:
        assert r.is_leak == (r.split_lo != r.split_hi)
        assert 0 <= r.dup_doc_rate <= 1
        assert r.n_dup_docs <= r.n_pairs


def test_split_leakage_flags_planted_contamination(spark):
    """A near-copy pair straddling train/test must surface as an is_leak row
    whose held-out doc is counted once."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    # find ids landing in different splits
    ids = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    staged = {r.doc_id: r.s for r in ids.select("doc_id", CP.split_stage(F.col("doc_id")).alias("s")).collect()}
    train_id = next(i for i, s in staged.items() if s == 0)
    test_id = next(i for i, s in staged.items() if s == 2)
    docs2 = spark.createDataFrame(
        [(train_id, base), (test_id, base + " extra"), (199, "completely unrelated words entirely different content")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(min(train_id, test_id), max(train_id, test_id), 0.95)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = {(r.split_lo, r.split_hi): r for r in CP.split_leakage(docs2, pairs).collect()}
    leak = out[("train", "test")]
    assert leak.is_leak and leak.n_pairs == 1 and leak.n_dup_docs == 1


def test_dq10_flags_cross_split_excerpt_jaccard_misses(spark):
    """dq10: a held-out doc that is an EXCERPT of a train doc (containment
    1.0, Jaccard tiny) surfaces as an is_leak row through the dd15 pair
    relation — the asymmetric leak dq8's Jaccard threshold cannot see."""
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_containment_pairs

    ids = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    staged = {
        r.doc_id: r.s
        for r in ids.select("doc_id", CP.split_stage(F.col("doc_id")).alias("s")).collect()
    }
    train_id = next(i for i, s in staged.items() if s == 0)
    held_id = next(i for i, s in staged.items() if s == 2)
    long_words = [f"w{i}" for i in range(40)]
    docs2 = spark.createDataFrame(
        [
            (train_id, " ".join(long_words)),          # source (train)
            (held_id, " ".join(long_words[:8])),       # excerpt (test): J = 0.2
            (199, "unrelated vocabulary entirely different"),
        ],
        "doc_id long, text string",
    )
    pairs = ppjoin_containment_pairs(docs2).select("doc_a", "doc_b")
    out = {(r.split_lo, r.split_hi): r for r in CP.split_leakage(docs2, pairs).collect()}
    leak = out[("train", "test")]
    assert leak.is_leak and leak.n_pairs == 1 and leak.n_dup_docs == 1
    # dq8's relation at the same threshold would carry NO such pair
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_jaccard_pairs

    assert ppjoin_jaccard_pairs(docs2, 0.9).count() == 0


# --- cc13 curriculum order -------------------------------------------------------


def test_curriculum_order_matches_naive_global_sort(spark, docs):
    """The two-level rank must equal the naive global-sort position over
    (stage, h, doc_id) — h recomputed via _salted_bucket — and the order
    must be stage-major with quality stages descending."""
    out = CP.curriculum_order(docs).collect()
    ids = spark.createDataFrame([(r.doc_id,) for r in out], "doc_id long")
    h = {
        r.doc_id: r.h
        for r in ids.select(
            "doc_id",
            CP._salted_bucket(F.col("doc_id"), CP.CURRICULUM_SALT, 2**31).alias("h"),
        ).collect()
    }
    naive = sorted(out, key=lambda r: (r.stage, h[r.doc_id], r.doc_id))
    assert {r.doc_id: r.position for r in out} == {
        r.doc_id: i for i, r in enumerate(naive)
    }
    assert sorted(r.position for r in out) == list(range(len(out)))
    by_pos = sorted(out, key=lambda r: r.position)
    # stage-major: stages are non-decreasing along the position axis
    stages = [r.stage for r in by_pos]
    assert stages == sorted(stages)
    assert len({r.stage for r in out}) >= 2  # the staging is exercised


def test_curriculum_order_reshard_stable(spark, docs):
    """Position is a pure function of (text, doc_id) — resharding must not
    move any document."""
    a = {r.doc_id: r.position for r in CP.curriculum_order(docs).collect()}
    b = {r.doc_id: r.position for r in CP.curriculum_order(docs.repartition(13)).collect()}
    assert a == b


def test_curriculum_order_shuffles_within_stage(spark, docs):
    """Within a stage, position order must NOT be doc_id order (the salted
    hash decorrelates training order from crawl order)."""
    out = sorted(CP.curriculum_order(docs).collect(), key=lambda r: r.position)
    from collections import defaultdict

    per_stage = defaultdict(list)
    for r in out:
        per_stage[r.stage].append(r.doc_id)
    big = max(per_stage.values(), key=len)
    assert big != sorted(big)


# --- cc14 release manifest ---------------------------------------------------


def test_release_manifest_invariants(spark, sf_dir):
    """cc14: train positions are dense 0..n-1 in curriculum (stage-major)
    order; offsets are the running token sum along positions; shards are
    offset // budget; held-out rows carry NULLs and every kept doc appears
    exactly once."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    out = sorted(
        load_registry()["cc14_release_manifest"].fn(spark, sf_dir).collect(),
        key=lambda r: (r.position is None, r.position or 0, r.doc_id),
    )
    train = [r for r in out if r.split == "train"]
    held = [r for r in out if r.split != "train"]
    assert len({r.doc_id for r in out}) == len(out)
    assert [r.position for r in train] == list(range(len(train)))
    stages = [r.stage for r in train]
    assert stages == sorted(stages)  # stage-major order
    run = 0
    for r in train:
        assert r.start_offset == run
        assert r.shard_id == run // CP.PACK_BUDGET
        run += r.n_tokens
    for r in held:
        assert r.split in ("val", "test")
        assert r.stage is None and r.position is None
        assert r.shard_id is None and r.start_offset is None


def test_cc16_release_diff_statuses_consistent(spark, sf_dir):
    """cc16: the diff agrees with the two manifests it composes — 'added'
    docs are exactly the v2-only docs, every shared doc with different
    coordinates reads 'moved', identical coordinates read 'unchanged',
    and coordinates echo the manifests verbatim."""
    from pdf_etl_pipeline_spark.catalog.curation_q import release_manifest_df
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.catalog import load_registry
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    cut = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    docs1 = docs.filter(F.col("doc_id") < cut)
    v1 = {
        r.doc_id: (r.split, r.position, r.shard_id)
        for r in release_manifest_df(
            docs1, minhash_lsh_pairs(docs1, 0.9)
        ).collect()
    }
    v2 = {
        r.doc_id: (r.split, r.position, r.shard_id)
        for r in release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9)).collect()
    }
    out = {r.doc_id: r for r in load_registry()["cc16_release_diff"].fn(spark, sf_dir).collect()}
    assert set(out) == set(v1) | set(v2)
    for d, r in out.items():
        if r.status == "added":
            assert d in v2 and d not in v1
        elif r.status == "removed":
            assert d in v1 and d not in v2
        else:
            assert (r.old_split, r.old_position, r.old_shard) == v1[d]
            assert (r.new_split, r.new_position, r.new_shard) == v2[d]
            assert (r.status == "moved") == (v1[d] != v2[d])
    statuses = {r.status for r in out.values()}
    assert "added" in statuses and ("moved" in statuses or "unchanged" in statuses)


def test_cc17_stored_diff_equals_rebuild_diff(spark, sf_dir, tmp_path):
    """cc17: diffing a freshly-built v2 against the PERSISTED v1 manifest
    is row-identical to cc16's rebuild-both diff on the same inputs — the
    stored artifact path changes the COST shape (v1 becomes a pruned
    parquet scan), never the answer. Also pins the write/read round-trip:
    release_read returns exactly what release_write was given."""
    from pdf_etl_pipeline_spark.catalog import load_registry
    from pdf_etl_pipeline_spark.catalog.curation_q import (
        release_diff_stored,
        release_manifest_df,
        release_read,
        release_write,
    )
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    cut = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    docs1 = docs.filter(F.col("doc_id") < cut)
    v1 = release_manifest_df(docs1, minhash_lsh_pairs(docs1, 0.9))
    v1_rows = sorted(map(tuple, v1.collect()))
    path = str(tmp_path / "release_v1")
    release_write(v1, path)
    assert sorted(
        map(tuple, release_read(spark, path).select(*v1.columns).collect())
    ) == v1_rows

    v2 = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
    stored = sorted(map(tuple, release_diff_stored(spark, path, v2).collect()))
    rebuilt = sorted(
        map(tuple, load_registry()["cc16_release_diff"].fn(spark, sf_dir).collect())
    )
    assert stored == rebuilt


def test_cc17_empty_persisted_release_reads_and_diffs(spark, tmp_path):
    """A release that shipped ZERO documents is a legal persisted artifact
    (a curation gate can reject an entire drop): release_read must return
    an empty relation with the manifest schema — not fail parquet schema
    inference — and the diff against it reads every v2 doc as 'added'."""
    from pdf_etl_pipeline_spark.catalog.curation_q import (
        _MANIFEST_SCHEMA,
        release_diff_stored,
        release_read,
        release_write,
    )

    path = str(tmp_path / "empty_v1")
    release_write(spark.createDataFrame([], _MANIFEST_SCHEMA), path)
    assert release_read(spark, path).count() == 0
    v2 = spark.createDataFrame(
        [(1, "train", 10, 0.9, 0, 0, 0, 0), (2, "val", 5, 0.8, None, None, None, None)],
        _MANIFEST_SCHEMA,
    )
    d = {r.doc_id: r.status for r in release_diff_stored(spark, path, v2).collect()}
    assert d == {1: "added", 2: "added"}


def test_cc18_patch_apply_semantics(spark):
    """cc18's patch on planted manifests: unchanged rows keep v1
    coordinates, moved rows take the diff's NEW coordinates, added rows
    enter, removed rows leave; an empty diff reconstructs v1 exactly.
    NULL coordinates (held-out rows) survive the round trip."""
    from pdf_etl_pipeline_spark.catalog.curation_q import (
        release_apply_diff,
        release_diff_compact,
    )

    schema = "doc_id long, split string, position long, shard_id long"
    v1 = spark.createDataFrame(
        [
            (1, "train", 0, 0),     # unchanged
            (2, "train", 1, 0),     # moved (position flips)
            (3, "train", 2, 1),     # removed in v2
            (5, "val", None, None), # unchanged, NULL coordinates
        ],
        schema,
    )
    v2 = spark.createDataFrame(
        [
            (1, "train", 0, 0),
            (2, "train", 2, 1),
            (4, "train", 1, 0),     # added
            (5, "val", None, None),
        ],
        schema,
    )
    patch = release_diff_compact(v1, v2)
    assert {r.doc_id: r.status for r in patch.collect()} == {
        2: "moved", 3: "removed", 4: "added"
    }
    got = sorted(map(tuple, release_apply_diff(v1, patch).collect()))
    assert got == sorted(map(tuple, v2.collect()))

    # empty diff (v1 == v2): the patch is a no-op reconstruction
    empty = release_diff_compact(v1, v1)
    assert empty.count() == 0
    assert sorted(map(tuple, release_apply_diff(v1, empty).collect())) == sorted(
        map(tuple, v1.collect())
    )


def test_dq11_certification_catches_planted_corruption(spark):
    """dq11 on hand-built manifests: a clean artifact certifies all-zero/
    true; each corruption class — duplicate doc_id, position gap, wrong
    shard derivation, broken packing endpoint, coordinate-NULL discipline
    on either side — flips exactly its own signal."""
    from pdf_etl_pipeline_spark.catalog.curation_q import (
        _MANIFEST_SCHEMA,
        certify_release,
    )

    rows = [
        (1, "train", 10, 0.9, 0, 0, 0, 0),
        (2, "train", 20, 0.8, 0, 1, 0, 10),
        (3, "train", 5, 0.7, 1, 2, 0, 30),
        (7, "val", 9, 0.6, None, None, None, None),
    ]

    def cert(rws):
        df = certify_release(spark.createDataFrame(rws, _MANIFEST_SCHEMA))
        return {r.split: r.asDict() for r in df.collect()}

    c = cert(rows)
    assert c["train"]["n_dup_docs"] == 0
    assert c["train"]["positions_contiguous"] is True
    assert c["train"]["n_shard_mismatch"] == 0
    assert c["train"]["offsets_endpoint_ok"] is True
    assert c["train"]["n_coord_null_violations"] == 0
    assert c["val"]["n_coord_null_violations"] == 0
    assert c["val"]["positions_contiguous"] is None

    # duplicate doc_id
    assert cert(rows + [(2, "train", 20, 0.8, 0, 3, 0, 35)])["train"]["n_dup_docs"] == 1
    # position gap (2 -> 5)
    bad = [rows[0], rows[1], (3, "train", 5, 0.7, 1, 5, 0, 30), rows[3]]
    assert cert(bad)["train"]["positions_contiguous"] is False
    # shard_id not derived from start_offset (budget 2048 -> floor = 0)
    bad = [rows[0], (2, "train", 20, 0.8, 0, 1, 1, 10), rows[2], rows[3]]
    assert cert(bad)["train"]["n_shard_mismatch"] == 1
    # packing endpoint broken (last start_offset 40: max(start+len)=45 != 35)
    bad = [rows[0], rows[1], (3, "train", 5, 0.7, 1, 2, 0, 40), rows[3]]
    assert cert(bad)["train"]["offsets_endpoint_ok"] is False
    # held-out row carrying coordinates
    bad = rows[:3] + [(7, "val", 9, 0.6, None, 3, None, None)]
    assert cert(bad)["val"]["n_coord_null_violations"] == 1
    # train row missing coordinates
    bad = [rows[0], rows[1], (3, "train", 5, 0.7, 1, None, None, None), rows[3]]
    assert cert(bad)["train"]["n_coord_null_violations"] == 1


def test_cc15_dropped_duplicate_asset_resolves_to_keeper(spark, sf_dir):
    """cc15: a released doc whose attached asset is a dropped near-dup
    must carry the KEEPER's asset id. mm1's planted structure: per group
    of 4 consecutive doc_ids, members {0,1,2} form one image component
    (member 1 is an identical twin of 0, member 2 sits at Hamming 2), so
    their canonical image asset is the group base; member 3 (Hamming 7)
    keeps its own. Every cc14 row must appear exactly once with both
    asset columns resolved."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    reg = load_registry()
    out = reg["cc15_multimodal_release"].fn(spark, sf_dir).collect()
    cc14 = reg["cc14_release_manifest"].fn(spark, sf_dir).collect()
    assert {r.doc_id for r in out} == {r.doc_id for r in cc14}
    assert len(out) == len(cc14)
    dup_docs = keeper_docs = 0
    for r in out:
        g, m = r.doc_id // 4, r.doc_id % 4
        if m in (1, 2):  # image is a dropped duplicate -> keeper's id
            assert r.image_asset == 4 * g and not r.image_is_canonical
            dup_docs += 1
        elif m == 3:  # past the Hamming budget -> its own canonical asset
            assert r.image_asset == r.doc_id and r.image_is_canonical
            keeper_docs += 1
        # audio arm resolved for every row (groups of 5; members 0-3 cluster)
        assert r.audio_asset is not None and r.audio_asset <= r.doc_id
        if r.doc_id % 5 in (1, 2, 3):
            assert r.audio_asset == 5 * (r.doc_id // 5) and not r.audio_is_canonical
    assert dup_docs and keeper_docs
