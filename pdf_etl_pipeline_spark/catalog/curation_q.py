"""Corpus-curation flagship query — the composed LLM-data plan
(exact dedup → LSH near-dup removal → lang filter → quality filter),
oracle-checked end-to-end by composing the same fragments in DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.catalog import register
from pdf_etl_pipeline_spark.llmdata import dedup as DD
from pdf_etl_pipeline_spark.llmdata import text as TX
from pdf_etl_pipeline_spark.llmdata.curation import curate_corpus
from pdf_etl_pipeline_spark.session import load_table, tune

_TOKS = DD.tokens_sql("text", distinct=False)
_TOKSH = DD.token_hashes_sql("text")
_SIG = DD.minhash_signature_sql("text")
_EN = ", ".join(repr(w) for w in TX.LANG_MARKERS["en"])

_QUALITY = f"""
  least(len({_TOKS}) / 20.0, 1.0) * 0.3
  + COALESCE(len(list_distinct({_TOKS})) / nullif(len({_TOKS}), 0), 0.0) * 0.3
  + CASE WHEN list_reduce(list_prepend(0, list_transform({_TOKS}, t -> length(t))), (a, b) -> a + b)
              / nullif(len({_TOKS}), 0) >= 3
          AND list_reduce(list_prepend(0, list_transform({_TOKS}, t -> length(t))), (a, b) -> a + b)
              / nullif(len({_TOKS}), 0) <= 8 THEN 0.2 ELSE 0.0 END
  + COALESCE(len(list_filter({_TOKS}, t -> t IN ({_EN}))) / nullif(len({_TOKS}), 0), 0.0) * 0.2
  - COALESCE(length(regexp_replace(text, '[^0-9]', '', 'g')) / nullif(length(text), 0), 0.0) * 0.2
"""

# CTE body shared by cc1 (the keep set), cc14 (the release manifest built
# over it) and cc16 (the release diff — two prefixed copies over different
# corpus states) — ends with a `{p}kept` relation: (doc_id, n_tokens,
# quality_score) after exact dedup, near-dup removal, lang + quality gates.
def cc1_ctes(pred: str = "TRUE", p: str = "") -> str:
    """The cc1 curation pipeline as CTE text, parameterized by a corpus
    predicate and a CTE-name prefix so two corpus states can coexist in
    one query (cc16's release diff)."""
    return f"""{p}docs AS (SELECT * FROM documents WHERE {pred}),
{p}exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM {p}docs GROUP BY md5(text)
),
{p}sigs AS (
  SELECT doc_id, {_SIG} AS sig FROM {p}docs
),
{p}banded AS (
  SELECT doc_id, band,
         array_to_string(sig[band * {DD.ROWS_PER_BAND} + 1 : (band + 1) * {DD.ROWS_PER_BAND}], '-') AS key
  FROM {p}sigs, (VALUES (0), (1), (2), (3)) bb(band)
),
{p}cands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {p}banded a JOIN {p}banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
{p}toks AS (SELECT doc_id, {_TOKSH} AS th FROM {p}docs),
{p}near_losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM {p}cands
  JOIN {p}toks ta ON ta.doc_id = doc_a
  JOIN {p}toks tb ON tb.doc_id = doc_b
  WHERE len(list_intersect(ta.th, tb.th)) /
        (len(ta.th) + len(tb.th) - len(list_intersect(ta.th, tb.th))) >= 0.9
),
{p}feats AS (
  SELECT doc_id,
         len({_TOKS}) AS n_tokens,
         round({_QUALITY}, 6) AS quality_score,
         {TX.lang_id_sql('text')} AS lang_pred
  FROM {p}docs
),
{p}kept AS (
  SELECT f.doc_id, f.n_tokens, f.quality_score
  FROM {p}feats f
  JOIN {p}exact_keep k ON k.doc_id = f.doc_id
  WHERE f.doc_id NOT IN (SELECT doc_id FROM {p}near_losers)
    AND f.lang_pred = 'en'
    AND f.quality_score >= 0.5
)"""


_CC1_CTES = cc1_ctes()

_CC1_ORACLE = f"""
WITH {_CC1_CTES}
SELECT doc_id, n_tokens, quality_score FROM kept
ORDER BY doc_id"""


@register(
    "cc1_corpus_curation",
    oracle=_CC1_ORACLE,
    doc="CC1 composed curation plan: exact dedup -> MinHash-LSH near-dup removal -> lang filter -> quality filter -> token accounting",
)
def cc1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs

    return curate_corpus(
        load_table(spark, sf_dir, "documents"), pairs=shared_pairs(spark, sf_dir, 0.9)
    )


# --- CC2: cluster-based curation ---------------------------------------------
# Reuses dd6's materialized CTE chain (MinHash -> LSH pairs -> fixed-round
# min-label propagation); keepers are component minima, which subsume exact
# dedup (identical texts share every band -> one component).
from pdf_etl_pipeline_spark.catalog.dedup_q import _DD3_CTES, _DD3_JACCARD, _label_rounds  # noqa: E402
from pdf_etl_pipeline_spark.llmdata.curation import curate_corpus_clustered  # noqa: E402

_CC2_ORACLE = f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)},
keepers AS (
  SELECT doc_id FROM l{DD.CLUSTER_ITERS} WHERE doc_id = cluster_id
),
feats AS (
  SELECT doc_id,
         len({_TOKS}) AS n_tokens,
         round({_QUALITY}, 6) AS quality_score,
         {TX.lang_id_sql('text')} AS lang_pred
  FROM documents
)
SELECT f.doc_id, f.n_tokens, f.quality_score
FROM feats f
JOIN keepers k ON k.doc_id = f.doc_id
WHERE f.lang_pred = 'en'
  AND f.quality_score >= 0.5
ORDER BY f.doc_id"""


@register(
    "cc2_cluster_curation",
    oracle=_CC2_ORACLE,
    doc="CC2 cluster-based curation: one canonical doc per near-dup component (transitive closure) -> lang filter -> quality filter",
)
def cc2_cluster_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs

    return curate_corpus_clustered(
        load_table(spark, sf_dir, "documents"), pairs=shared_pairs(spark, sf_dir, 0.9)
    ).orderBy("doc_id")


# --- CC4: full curation recipe (every filter family) -------------------------
from pdf_etl_pipeline_spark.llmdata.curation import (  # noqa: E402
    MAX_DUP_TRIGRAM_FRAC,
    MAX_TOP_BIGRAM_FRAC,
    curate_corpus_full,
)

def _cc4_oracle() -> str:
    from pdf_etl_pipeline_spark.llmdata import corpus as CPm

    sh = CPm._shingle_hashes_sql("text", CPm.DECON_N)
    toks = DD.tokens_sql("text", distinct=False)
    two = f"list_transform(range(1, greatest(len({toks}) - 1, 0) + 1), i -> '2:' || ({toks})[i] || ' ' || ({toks})[i + 1])"
    three = f"list_transform(range(1, greatest(len({toks}) - 2, 0) + 1), i -> '3:' || ({toks})[i] || ' ' || ({toks})[i + 1] || ' ' || ({toks})[i + 2])"
    return f"""
WITH curated AS MATERIALIZED ({_CC2_ORACLE}),
sh AS (SELECT doc_id, unnest({sh}) AS h FROM documents),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {CPm.BENCH_MOD} = 0),
contaminated AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (h) WHERE s.doc_id % {CPm.BENCH_MOD} <> 0
),
grams AS (
  SELECT doc_id, unnest(list_concat({two}, {three})) AS gram FROM documents
),
gcounts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2),
rep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           round(MAX(CASE WHEN gram LIKE '2:%' THEN cnt ELSE 0 END)
                 / nullif(SUM(CASE WHEN gram LIKE '2:%' THEN cnt ELSE 0 END), 0), 6) AS tb,
           round(SUM(CASE WHEN gram NOT LIKE '2:%' AND cnt >= 2 THEN cnt ELSE 0 END)
                 / nullif(SUM(CASE WHEN gram NOT LIKE '2:%' THEN cnt ELSE 0 END), 0), 6) AS dt
    FROM gcounts GROUP BY 1
  ) WHERE tb > {MAX_TOP_BIGRAM_FRAC} OR dt > {MAX_DUP_TRIGRAM_FRAC}
)
SELECT c.doc_id, c.n_tokens, c.quality_score
FROM curated c
WHERE c.doc_id % {CPm.BENCH_MOD} <> 0
  AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
  AND c.doc_id NOT IN (SELECT doc_id FROM rep)
ORDER BY c.doc_id"""


@register(
    "cc4_full_curation",
    oracle=_cc4_oracle(),
    doc="CC4 complete curation recipe: cluster dedup -> lang -> quality -> repetition cutoffs -> benchmark exclusion + decontamination -> token accounting",
)
def cc4_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs

    return curate_corpus_full(
        load_table(spark, sf_dir, "documents"), pairs=shared_pairs(spark, sf_dir, 0.9)
    ).orderBy("doc_id")


# --- CC3: curated-corpus shard manifest --------------------------------------
# The full training-data delivery path composed end to end: cluster-dedup ->
# filters -> greedy token-budget packing -> per-shard manifest. The oracle
# nests the CC2 relation and mirrors the packing cumsum globally (the Spark
# side computes it two-level; same arithmetic).
from pdf_etl_pipeline_spark.llmdata import corpus as CP  # noqa: E402

_CC3_ORACLE = f"""
WITH curated AS MATERIALIZED ({_CC2_ORACLE}),
packed AS (
  SELECT doc_id, n_tokens,
         CAST(floor(CAST(CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                        - n_tokens AS BIGINT) AS DOUBLE) / {CP.PACK_BUDGET}) AS BIGINT) AS shard_id
  FROM curated
)
SELECT shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id
FROM packed GROUP BY 1 ORDER BY 1"""


@register(
    "cc3_shard_manifest",
    oracle=_CC3_ORACLE,
    doc="CC3 curated-corpus shard manifest: cluster curation -> 2048-token greedy packing -> per-shard doc/token accounting",
)
def cc3_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs

    curated = curate_corpus_clustered(
        load_table(spark, sf_dir, "documents"), pairs=shared_pairs(spark, sf_dir, 0.9)
    )
    packed = CP.pack_counts(curated.select("doc_id", "n_tokens"))
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("shard_id")
    )


# --- CC5: per-source frequency cap --------------------------------------------
from pdf_etl_pipeline_spark.llmdata.curation import SOURCE_CAP, source_cap  # noqa: E402

_CC5_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, round({_QUALITY}, 6) AS quality_score FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY quality_score DESC, doc_id) AS rank
  FROM scored
)
SELECT source, rank, doc_id, quality_score
FROM ranked WHERE rank <= {SOURCE_CAP}
ORDER BY source, rank"""


@register(
    "cc5_source_cap",
    oracle=_CC5_ORACLE,
    doc="CC5 per-source frequency cap (RefinedWeb-style domain guard): keep the top-10 docs per source by quality score — codegen scoring over the scan + ONE source-partitioned row_number window, no global sort",
)
def cc5_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return source_cap(load_table(spark, sf_dir, "documents"))


# --- CC6: token-budget corpus mixing ------------------------------------------
from pdf_etl_pipeline_spark.llmdata.curation import TOKEN_BUDGET, token_budget_mix  # noqa: E402

_CC6_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, round({_QUALITY}, 6) AS quality_score,
         len({_TOKS}) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rank,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY quality_score DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
           AS start_offset
  FROM scored
)
SELECT source, rank, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, start_offset
FROM ranked WHERE start_offset < {TOKEN_BUDGET}
ORDER BY source, rank"""


@register(
    "cc6_token_budget_mix",
    oracle=_CC6_ORACLE,
    doc="CC6 token-quota corpus mixing: admit each source's docs in quality order until an 800-token budget fills (start_offset < budget, pk1 convention) — how pretraining mixes are specified; rank + running total are source-partitioned windows, no global sort",
)
def cc6_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return token_budget_mix(load_table(spark, sf_dir, "documents"))


# --- CC7: curation funnel report ----------------------------------------------
_CC7_STAGES = [
    "raw",
    "cluster_dedup",
    "lang",
    "quality",
    "repetition",
    "decontaminated",
]


def _cc7_oracle() -> str:
    """Per-doc stage flags from the SAME fragments cc2/cc4 check, folded
    into cumulative stage sums and unpivoted to one row per stage."""
    from pdf_etl_pipeline_spark.llmdata import corpus as CPm

    sh = CPm._shingle_hashes_sql("text", CPm.DECON_N)
    toks = DD.tokens_sql("text", distinct=False)
    two = f"list_transform(range(1, greatest(len({toks}) - 1, 0) + 1), i -> '2:' || ({toks})[i] || ' ' || ({toks})[i + 1])"
    three = f"list_transform(range(1, greatest(len({toks}) - 2, 0) + 1), i -> '3:' || ({toks})[i] || ' ' || ({toks})[i + 1] || ' ' || ({toks})[i + 2])"
    stage_rows = []
    for i, name in enumerate(_CC7_STAGES):
        stage_rows.append(
            f"SELECT {i} AS stage, '{name}' AS stage_name, s{i}d AS n_docs, s{i}t AS n_tokens,\n"
            f"       round(CAST(s{i}d AS DOUBLE) / s0d, 6) AS doc_retention FROM wide"
        )
    unpivot = "\nUNION ALL\n".join(stage_rows)
    return f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)},
keepers AS (
  SELECT doc_id FROM l{DD.CLUSTER_ITERS} WHERE doc_id = cluster_id
),
feats AS (
  SELECT doc_id,
         len({_TOKS}) AS n_tokens,
         round({_QUALITY}, 6) AS quality_score,
         {TX.lang_id_sql('text')} AS lang_pred
  FROM documents
),
sh AS (SELECT doc_id, unnest({sh}) AS h FROM documents),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {CPm.BENCH_MOD} = 0),
contaminated AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (h) WHERE s.doc_id % {CPm.BENCH_MOD} <> 0
),
grams AS (
  SELECT doc_id, unnest(list_concat({two}, {three})) AS gram FROM documents
),
gcounts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2),
rep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           round(MAX(CASE WHEN gram LIKE '2:%' THEN cnt ELSE 0 END)
                 / nullif(SUM(CASE WHEN gram LIKE '2:%' THEN cnt ELSE 0 END), 0), 6) AS tb,
           round(SUM(CASE WHEN gram NOT LIKE '2:%' AND cnt >= 2 THEN cnt ELSE 0 END)
                 / nullif(SUM(CASE WHEN gram NOT LIKE '2:%' THEN cnt ELSE 0 END), 0), 6) AS dt
    FROM gcounts GROUP BY 1
  ) WHERE tb > {MAX_TOP_BIGRAM_FRAC} OR dt > {MAX_DUP_TRIGRAM_FRAC}
),
flags AS (
  SELECT f.doc_id, f.n_tokens,
         (k.doc_id IS NOT NULL) AS f_dedup,
         (f.lang_pred = 'en') AS f_lang,
         (f.quality_score >= 0.5) AS f_quality,
         (f.doc_id NOT IN (SELECT doc_id FROM rep)) AS f_rep,
         (f.doc_id % {CPm.BENCH_MOD} <> 0
          AND f.doc_id NOT IN (SELECT doc_id FROM contaminated)) AS f_decon
  FROM feats f LEFT JOIN keepers k ON k.doc_id = f.doc_id
),
cum AS (
  SELECT n_tokens,
         TRUE AS s0,
         f_dedup AS s1,
         f_dedup AND f_lang AS s2,
         f_dedup AND f_lang AND f_quality AS s3,
         f_dedup AND f_lang AND f_quality AND f_rep AS s4,
         f_dedup AND f_lang AND f_quality AND f_rep AND f_decon AS s5
  FROM flags
),
wide AS (
  SELECT {', '.join(
    f"CAST(SUM(CASE WHEN s{i} THEN 1 ELSE 0 END) AS BIGINT) AS s{i}d, "
    f"CAST(SUM(CASE WHEN s{i} THEN n_tokens ELSE 0 END) AS BIGINT) AS s{i}t"
    for i in range(6)
  )}
  FROM cum
)
{unpivot}
ORDER BY stage"""


@register(
    "cc7_curation_funnel",
    oracle=_cc7_oracle(),
    doc="CC7 curation-funnel observability report: doc and token counts "
    "surviving each cumulative stage of the cc4 recipe (raw -> cluster "
    "dedup -> lang -> quality -> repetition -> decontamination) plus "
    "retention fractions — the run-report every production curation "
    "pipeline emits so a filter silently eating the corpus is caught from "
    "the numbers, not the training curves. ONE pass over a per-doc flag "
    "relation (stage sums are conditional aggregates of the same row — no "
    "per-stage rescans); the flag inputs are the identical oracle-checked "
    "cc2/cc4 fragments",
)
def cc7_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.corpus import BENCH_MOD, decontaminate
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters, tokens_col
    from pdf_etl_pipeline_spark.llmdata.text import (
        repetition_stats,
        with_text_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        near_dup_clusters(docs, threshold=0.9, pairs=shared_pairs(spark, sf_dir, 0.9))
        .filter(F.col("is_keeper"))
        .select("doc_id", F.lit(1).alias("_k"))
    )
    rep = (
        repetition_stats(docs)
        .filter(
            (F.col("top_bigram_frac") > MAX_TOP_BIGRAM_FRAC)
            | (F.col("dup_trigram_frac") > MAX_DUP_TRIGRAM_FRAC)
        )
        .select("doc_id", F.lit(1).alias("_r"))
    )
    cont = decontaminate(docs).select("doc_id", F.lit(1).alias("_c"))
    # one shared tokenization for the feature triple (r16)
    feats = with_text_features(docs).select(
        "doc_id", "lang_pred", "n_tokens", "quality_score"
    )
    flags = (
        feats.join(keepers, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "n_tokens",
            F.col("_k").isNotNull().alias("f_dedup"),
            (F.col("lang_pred") == "en").alias("f_lang"),
            (F.col("quality_score") >= 0.5).alias("f_quality"),
            F.col("_r").isNull().alias("f_rep"),
            ((F.col("doc_id") % BENCH_MOD != 0) & F.col("_c").isNull()).alias("f_decon"),
        )
    )
    stages = [
        F.lit(True),
        F.col("f_dedup"),
        F.col("f_dedup") & F.col("f_lang"),
        F.col("f_dedup") & F.col("f_lang") & F.col("f_quality"),
        F.col("f_dedup") & F.col("f_lang") & F.col("f_quality") & F.col("f_rep"),
        F.col("f_dedup") & F.col("f_lang") & F.col("f_quality") & F.col("f_rep") & F.col("f_decon"),
    ]
    aggs = []
    for i, s in enumerate(stages):
        aggs.append(F.sum(F.when(s, 1).otherwise(0)).cast("long").alias(f"s{i}d"))
        aggs.append(
            F.sum(F.when(s, F.col("n_tokens")).otherwise(0)).cast("long").alias(f"s{i}t")
        )
    wide = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i}L, '{name}', s{i}d, s{i}t, round(CAST(s{i}d AS DOUBLE) / s0d, 6)"
        for i, name in enumerate(_CC7_STAGES)
    )
    return wide.select(
        F.expr(
            f"stack(6, {stack_args}) AS (stage, stage_name, n_docs, n_tokens, doc_retention)"
        )
    ).orderBy("stage")


# --- CC9: span-trimmed curation funnel --------------------------------------------
# The span family composed INTO the recipe: cc4/cc7 gate documents but never
# transform them, and dd11 produces trimmed text nothing consumed. cc9 closes
# the loop — cluster dedup keeps canonical docs, dd11's span trim then REWRITES
# their text (every cross-doc-duplicated 10-gram removed), and the lang/quality
# gates + token accounting run over the TRIMMED text, which is what actually
# ships to training. The funnel gains a "span_trim" stage whose doc count
# matches cluster_dedup (trim drops tokens, not docs) and whose token column
# shows the trim's bite directly.
_CC9_STAGES = ["raw", "cluster_dedup", "span_trim", "lang", "quality"]


def _cc9_oracle() -> str:
    stage_rows = []
    for i, name in enumerate(_CC9_STAGES):
        stage_rows.append(
            f"SELECT {i} AS stage, '{name}' AS stage_name, s{i}d AS n_docs, s{i}t AS n_tokens,\n"
            f"       round(CAST(s{i}d AS DOUBLE) / s0d, 6) AS doc_retention,\n"
            f"       round(CAST(s{i}t AS DOUBLE) / s0t, 6) AS token_retention FROM wide"
        )
    unpivot = "\nUNION ALL\n".join(stage_rows)
    # token accounting: stages 0-1 count raw tokens; from the span_trim
    # stage on, the kept-token counts of the trimmed text
    tok_expr = ["n_raw", "n_raw", "n_trim", "n_trim", "n_trim"]
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN s{i} THEN 1 ELSE 0 END) AS BIGINT) AS s{i}d, "
        f"CAST(SUM(CASE WHEN s{i} THEN {tok_expr[i]} ELSE 0 END) AS BIGINT) AS s{i}t"
        for i in range(5)
    )
    return f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)},
keepers AS (
  SELECT doc_id FROM l{DD.CLUSTER_ITERS} WHERE doc_id = cluster_id
),
{DD.trimmed_docs_ctes('documents')},
feats AS (
  SELECT doc_id, n_tokens AS n_raw, n_kept AS n_trim,
         round({_QUALITY}, 6) AS q_trim,
         {TX.lang_id_sql('text')} AS lang_trim
  FROM ttdocs
),
flags AS (
  SELECT f.doc_id, f.n_raw, f.n_trim,
         (k.doc_id IS NOT NULL) AS f_dedup,
         (f.lang_trim = 'en') AS f_lang,
         (f.q_trim >= 0.5) AS f_quality
  FROM feats f LEFT JOIN keepers k ON k.doc_id = f.doc_id
),
cum AS (
  SELECT n_raw, n_trim,
         TRUE AS s0,
         f_dedup AS s1,
         f_dedup AS s2,
         f_dedup AND f_lang AS s3,
         f_dedup AND f_lang AND f_quality AS s4
  FROM flags
),
wide AS (SELECT {sums} FROM cum)
{unpivot}
ORDER BY stage"""


@register(
    "cc9_trimmed_curation",
    oracle=_cc9_oracle(),
    doc="CC9 span-trimmed curation funnel: cluster dedup keeps canonical docs, "
    "dd11's span trim rewrites their text (cross-doc-duplicated 10-grams "
    "removed, trimmed text re-assembled in-plan), then the lang/quality gates "
    "and token accounting run over the TRIMMED text — the corpus that actually "
    "ships. Funnel report gains a span_trim stage: doc count flat vs "
    "cluster_dedup, token column shows tokens removed by the trim. Scale: the "
    "dd11 fragments are the audited doc_id-partitioned span plan, scoring is "
    "codegen over the trimmed relation, stage sums are ONE conditional "
    "aggregate — no per-stage rescans",
)
def cc9_trimmed_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters, trimmed_docs
    from pdf_etl_pipeline_spark.llmdata.text import with_text_gates

    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        near_dup_clusters(docs, threshold=0.9, pairs=shared_pairs(spark, sf_dir, 0.9))
        .filter(F.col("is_keeper"))
        .select("doc_id", F.lit(1).alias("_k"))
    )
    trimmed = trimmed_docs(docs)
    # one shared tokenization for both gates (r16)
    feats = with_text_gates(trimmed, "trimmed_text", "lang_trim", "q_trim").select(
        "doc_id",
        F.col("n_tokens").alias("n_raw"),
        F.col("n_kept").alias("n_trim"),
        "q_trim",
        "lang_trim",
    )
    flags = feats.join(keepers, "doc_id", "left").select(
        "n_raw",
        "n_trim",
        F.col("_k").isNotNull().alias("f_dedup"),
        (F.col("lang_trim") == "en").alias("f_lang"),
        (F.col("q_trim") >= 0.5).alias("f_quality"),
    )
    stages = [
        (F.lit(True), "n_raw"),
        (F.col("f_dedup"), "n_raw"),
        (F.col("f_dedup"), "n_trim"),
        (F.col("f_dedup") & F.col("f_lang"), "n_trim"),
        (F.col("f_dedup") & F.col("f_lang") & F.col("f_quality"), "n_trim"),
    ]
    aggs = []
    for i, (s, tok) in enumerate(stages):
        aggs.append(F.sum(F.when(s, 1).otherwise(0)).cast("long").alias(f"s{i}d"))
        aggs.append(
            F.sum(F.when(s, F.col(tok)).otherwise(0)).cast("long").alias(f"s{i}t")
        )
    wide = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i}L, '{name}', s{i}d, s{i}t, round(CAST(s{i}d AS DOUBLE) / s0d, 6), "
        f"round(CAST(s{i}t AS DOUBLE) / s0t, 6)"
        for i, name in enumerate(_CC9_STAGES)
    )
    return wide.select(
        F.expr(
            f"stack(5, {stack_args}) AS "
            "(stage, stage_name, n_docs, n_tokens, doc_retention, token_retention)"
        )
    ).orderBy("stage")


# --- CC10: trimmed-corpus shard manifest -------------------------------------------
# cc3 packs the RAW curated corpus; cc10 is the delivery path for the cc9
# recipe — the span-TRIMMED survivors (dedup -> trim -> lang/quality on
# trimmed text) greedily packed into token-budget shards with TRIMMED token
# accounting. This is the manifest a training run actually loads after span
# dedup: trim first, then budget by what remains.


def _cc10_oracle() -> str:
    return f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)},
keepers AS (
  SELECT doc_id FROM l{DD.CLUSTER_ITERS} WHERE doc_id = cluster_id
),
{DD.trimmed_docs_ctes('documents')},
survivors AS (
  SELECT t.doc_id, t.n_kept AS n_tokens
  FROM ttdocs t
  JOIN keepers k ON k.doc_id = t.doc_id
  WHERE {TX.lang_id_sql('text')} = 'en' AND round({_QUALITY}, 6) >= 0.5
),
packed AS (
  SELECT doc_id, n_tokens,
         CAST(floor(CAST(CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                        - n_tokens AS BIGINT) AS DOUBLE) / {CP.PACK_BUDGET}) AS BIGINT) AS shard_id
  FROM survivors
)
SELECT shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id
FROM packed GROUP BY 1 ORDER BY 1"""


@register(
    "cc10_trimmed_shard_manifest",
    oracle=_cc10_oracle(),
    doc="CC10 trimmed-corpus shard manifest (the cc9 recipe's delivery path): "
    "cluster-dedup keepers span-trimmed, lang/quality gates on the TRIMMED "
    "text, survivors greedily packed into 2048-token shards budgeted by their "
    "TRIMMED token counts — what a training run loads after span dedup. "
    "Scale: the audited cc9 fragments feed pk1's two-level packing cumsum "
    "(per-bucket windows + a bounded offsets relation, never a corpus-wide "
    "single-partition sort)",
)
def cc10_trimmed_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters, trimmed_docs
    from pdf_etl_pipeline_spark.llmdata.text import with_text_gates

    docs = load_table(spark, sf_dir, "documents", spread=True)
    keepers = (
        near_dup_clusters(docs, threshold=0.9, pairs=shared_pairs(spark, sf_dir, 0.9))
        .filter(F.col("is_keeper"))
        .select("doc_id")
    )
    # deliberately NOT persisting the span relation here (r17, measured):
    # an interleaved A/B of spans.persist()+eager-manifest-checkpoint vs
    # this lazy shape read 14.38 vs 14.11 s on a clean window
    # (plans/r17/ab_cc10.json) — the persist+checkpoint overhead cancels
    # the saved second hashing pass; profiled stage costs in
    # OPTIMIZATION_r17.md §5
    trimmed = trimmed_docs(docs).join(keepers, "doc_id", "left_semi")
    # gate columns computed once (one shared tokenization, r16), then filtered
    survivors = (
        with_text_gates(trimmed, "trimmed_text", "_lang", "_q")
        .filter((F.col("_lang") == "en") & (F.col("_q") >= 0.5))
        .select("doc_id", F.col("n_kept").alias("n_tokens"))
    )
    packed = CP.pack_counts(survivors)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("shard_id")
    )


# --- CC8: temperature-mixed source weights ---------------------------------------
from pdf_etl_pipeline_spark.functions.scalars import dec_sum, dec_sum_sql  # noqa: E402

CC8_BUDGET = 2000  # total training-token budget to allocate across sources


def _cc8_oracle() -> str:
    toks = DD.tokens_sql("text", distinct=False)
    return f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len({toks})) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT {dec_sum_sql('sqrt(n_tokens)')} AS z FROM per_src),
w AS (
  SELECT source, n_docs, n_tokens,
         round(sqrt(n_tokens) / z, 6) AS weight
  FROM per_src, tot
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens, weight,
       CAST(floor({CC8_BUDGET} * weight) AS BIGINT) AS quota_tokens,
       round(floor({CC8_BUDGET} * weight) / n_tokens, 6) AS epochs
FROM w ORDER BY source"""


@register(
    "cc8_temperature_mix",
    oracle=_cc8_oracle(),
    doc=f"CC8 temperature-mixed source weights (the Pile/multilingual-sampling "
    f"staple, tau=2): per-source sampling weight proportional to sqrt(token "
    f"count), normalized, then a {CC8_BUDGET}-token budget split into per-source "
    f"quotas with effective-epoch readout (quota/corpus — how much each small "
    f"source gets oversampled). sqrt, not pow: IEEE-exact in both engines, so "
    f"the weights hash-check without libm drift; the normalizer is ONE 1-row "
    f"decimal-exact aggregate broadcast back — one shuffle on source, nothing "
    f"corpus-wide",
)
def cc8_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.llmdata.dedup import tokens_col

    per_src = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokens_col("text", distinct=False))).cast("long").alias("n_tokens"),
        )
    )
    tot = per_src.agg(dec_sum(F.sqrt("n_tokens")).alias("z"))
    w = F.round(F.sqrt("n_tokens") / F.col("z"), 6)
    quota = F.floor(F.lit(CC8_BUDGET) * F.round(F.sqrt("n_tokens") / F.col("z"), 6))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            w.alias("weight"),
            quota.cast("long").alias("quota_tokens"),
            F.round(quota / F.col("n_tokens"), 6).alias("epochs"),
        )
        .orderBy("source")
    )


# --- DD14: quality-aware cluster keeper --------------------------------------------
# Min-id survivorship (dd6/dd6b) is an arbitrary policy: crawl order, not
# merit. Real curation keeps the BEST copy of each duplicate family — the
# highest quality-scored member (rounded to 6 dp first so both engines
# rank the identical value), doc_id as the deterministic tiebreak. One
# cluster_id-partitioned ranking window over the converged label relation;
# the heavy lifting is the already-audited shared LSH pair index.
from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs as _shared_pairs  # noqa: E402

_DD14_ORACLE = f"""
WITH {_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
{_label_rounds(DD.CLUSTER_ITERS)},
ql AS (
  SELECT l.doc_id, l.cluster_id, round({_QUALITY}, 6) AS q
  FROM l{DD.CLUSTER_ITERS} l JOIN documents d ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id, q,
       row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) = 1
         AS is_keeper
FROM ql ORDER BY doc_id"""


@register(
    "dd14_best_keeper",
    oracle=_DD14_ORACLE,
    doc="DD14 quality-aware cluster keeper: near-dup families keep their "
    "HIGHEST-QUALITY member (rounded score, doc_id tiebreak) instead of the "
    "arbitrary min-id survivor — the curation policy that keeps the clean "
    "original over the boilerplate-wrapped syndication copy. One "
    "cluster-partitioned ranking window over the converged labels; the LSH "
    "pair index is the shared, already-audited build",
)
def dd14_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pyspark.sql.window import Window

    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    labels = near_dup_clusters(
        docs, threshold=0.9, pairs=_shared_pairs(spark, sf_dir, 0.9)
    ).select("doc_id", "cluster_id")
    q = docs.select(
        "doc_id", F.round(TX.quality_score_col("text"), 6).alias("q")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("doc_id"))
    return (
        labels.join(q, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "q",
            (F.row_number().over(w) == 1).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


# --- CC12: the guarded full corpus build (offline st14) --------------------------
# The complete offline textbook recipe in ONE funnel: benchmark
# decontamination first (dc1 exact shingles — eval docs must not shape
# ANY later stage), then dd14's quality-aware cluster dedup over the
# decontaminated survivors (keep the best copy, not the min id), then
# dd11's span trim, then lang/quality gates on the TRIMMED text. The
# batch twin of st14 with the better keeper policy — what a one-shot
# corpus build actually runs.
_CC12_STAGES = ["raw", "decontaminate", "best_dedup", "span_trim", "lang", "quality"]


def _cc12_oracle() -> str:
    sh = CP._shingle_hashes_sql("text", CP.DECON_N)
    stage_rows = []
    for i, name in enumerate(_CC12_STAGES):
        stage_rows.append(
            f"SELECT {i} AS stage, '{name}' AS stage_name, s{i}d AS n_docs, s{i}t AS n_tokens,\n"
            f"       round(CAST(s{i}d AS DOUBLE) / s0d, 6) AS doc_retention,\n"
            f"       round(CAST(s{i}t AS DOUBLE) / s0t, 6) AS token_retention FROM wide"
        )
    unpivot = "\nUNION ALL\n".join(stage_rows)
    tok_expr = ["n_raw", "n_raw", "n_raw", "n_trim", "n_trim", "n_trim"]
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN s{i} THEN 1 ELSE 0 END) AS BIGINT) AS s{i}d, "
        f"CAST(SUM(CASE WHEN s{i} THEN {tok_expr[i]} ELSE 0 END) AS BIGINT) AS s{i}t"
        for i in range(6)
    )
    return f"""
WITH cdocs AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id % {CP.BENCH_MOD} <> 0
),
bsh AS (
  SELECT DISTINCT unnest({sh}) AS h FROM documents WHERE doc_id % {CP.BENCH_MOD} = 0
),
contam AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest({sh}) AS h FROM cdocs)
  WHERE h IN (SELECT h FROM bsh)
),
sdocs AS MATERIALIZED (
  SELECT doc_id FROM cdocs WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
{_DD3_CTES},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cands WHERE {_DD3_JACCARD} >= 0.9
),
spairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  WHERE doc_a IN (SELECT doc_id FROM sdocs)
    AND doc_b IN (SELECT doc_id FROM sdocs)
),
e AS MATERIALIZED (
  SELECT doc_a, doc_b FROM spairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM spairs
),
{_label_rounds(DD.CLUSTER_ITERS, nodes="sdocs", edges="e")},
ql AS (
  SELECT l.doc_id, l.cluster_id, round({_QUALITY}, 6) AS q
  FROM l{DD.CLUSTER_ITERS} l JOIN cdocs d ON d.doc_id = l.doc_id
),
keep AS MATERIALIZED (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
    FROM ql
  ) WHERE rn = 1
),
{DD.trimmed_docs_ctes('cdocs')},
feats AS (
  SELECT doc_id, n_tokens AS n_raw, n_kept AS n_trim,
         round({_QUALITY}, 6) AS q_trim,
         {TX.lang_id_sql('text')} AS lang_trim
  FROM ttdocs
),
flags AS (
  SELECT f.doc_id, f.n_raw, f.n_trim,
         (c.doc_id IS NULL) AS f_decon,
         (k.doc_id IS NOT NULL) AS f_keep,
         (f.lang_trim = 'en') AS f_lang,
         (f.q_trim >= 0.5) AS f_quality
  FROM feats f
  LEFT JOIN contam c ON c.doc_id = f.doc_id
  LEFT JOIN keep k ON k.doc_id = f.doc_id
),
cum AS (
  SELECT n_raw, n_trim,
         TRUE AS s0,
         f_decon AS s1,
         f_keep AS s2,
         f_keep AS s3,
         f_keep AND f_lang AS s4,
         f_keep AND f_lang AND f_quality AS s5
  FROM flags
),
wide AS (SELECT {sums} FROM cum)
{unpivot}
ORDER BY stage"""


@register(
    "cc12_guarded_corpus_build",
    oracle=_cc12_oracle(),
    doc="CC12 guarded full corpus build — the offline st14 with the dd14 keeper "
    "policy, one funnel: benchmark decontamination (dc1 exact shingles) BEFORE "
    "anything else, quality-aware cluster dedup over the decontaminated "
    "survivors (subgraph clustering of the shared LSH pair graph), dd11 span "
    "trim, lang/quality gates on the TRIMMED text. Scale: every stage is an "
    "already-audited fragment (broadcast bench shingles, shared pair index, "
    "cluster-partitioned keeper window, doc_id-partitioned trim windows, "
    "codegen gates), folded by ONE conditional aggregate — no per-stage "
    "rescans",
)
def cc12_guarded_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pyspark.sql.window import Window

    from pdf_etl_pipeline_spark.llmdata.corpus import _shingle_hashes
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters, trimmed_docs

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % CP.BENCH_MOD != 0)
    bench = docs.filter(F.col("doc_id") % CP.BENCH_MOD == 0)
    bh = bench.select(
        F.explode(_shingle_hashes("text", CP.DECON_N)).alias("h")
    ).distinct()
    contam = (
        corpus.select("doc_id", F.explode(_shingle_hashes("text", CP.DECON_N)).alias("h"))
        .join(bh, "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    survivors = corpus.join(contam, "doc_id", "left_anti")
    pairs = _shared_pairs(spark, sf_dir, 0.9)
    sids_a = survivors.select(F.col("doc_id").alias("doc_a"))
    sids_b = survivors.select(F.col("doc_id").alias("doc_b"))
    spairs = pairs.join(sids_a, "doc_a", "left_semi").join(sids_b, "doc_b", "left_semi")
    labels = near_dup_clusters(survivors, threshold=0.9, pairs=spairs).select(
        "doc_id", "cluster_id"
    )
    q_raw = corpus.select(
        "doc_id", F.round(TX.quality_score_col("text"), 6).alias("q")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("doc_id"))
    keep = (
        labels.join(q_raw, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.lit(1).alias("_k"))
    )
    trimmed = trimmed_docs(corpus)
    # one shared tokenization for both gates (r16)
    feats = TX.with_text_gates(trimmed, "trimmed_text", "lang_trim", "q_trim").select(
        "doc_id",
        F.col("n_tokens").alias("n_raw"),
        F.col("n_kept").alias("n_trim"),
        "q_trim",
        "lang_trim",
    )
    flags = (
        feats.join(contam.select("doc_id", F.lit(1).alias("_c")), "doc_id", "left")
        .join(keep, "doc_id", "left")
        .select(
            "n_raw",
            "n_trim",
            F.col("_c").isNull().alias("f_decon"),
            F.col("_k").isNotNull().alias("f_keep"),
            (F.col("lang_trim") == "en").alias("f_lang"),
            (F.col("q_trim") >= 0.5).alias("f_quality"),
        )
    )
    stages = [
        (F.lit(True), "n_raw"),
        (F.col("f_decon"), "n_raw"),
        (F.col("f_keep"), "n_raw"),
        (F.col("f_keep"), "n_trim"),
        (F.col("f_keep") & F.col("f_lang"), "n_trim"),
        (F.col("f_keep") & F.col("f_lang") & F.col("f_quality"), "n_trim"),
    ]
    aggs = []
    for i, (s, tok) in enumerate(stages):
        aggs.append(F.sum(F.when(s, 1).otherwise(0)).cast("long").alias(f"s{i}d"))
        aggs.append(
            F.sum(F.when(s, F.col(tok)).otherwise(0)).cast("long").alias(f"s{i}t")
        )
    wide = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i}L, '{name}', s{i}d, s{i}t, round(CAST(s{i}d AS DOUBLE) / s0d, 6), "
        f"round(CAST(s{i}t AS DOUBLE) / s0t, 6)"
        for i, name in enumerate(_CC12_STAGES)
    )
    return wide.select(
        F.expr(
            f"stack(6, {stack_args}) AS "
            "(stage, stage_name, n_docs, n_tokens, doc_retention, token_retention)"
        )
    ).orderBy("stage")


# --- CC13: deterministic curriculum training order ----------------------------
# Curriculum learning's data-side contract: feed highest-quality documents
# first, but pseudo-shuffled within each stage so training order never
# correlates with doc_id / crawl order. Global position via pk1's two-level
# rank (per-(stage, hash-bucket) row_number + broadcast cumulative offsets)
# — no global sort anywhere in the plan.
from pdf_etl_pipeline_spark.llmdata import corpus as _CP


@register(
    "cc13_curriculum_order",
    oracle=_CP.curriculum_order_oracle_sql(_QUALITY),
    doc="CC13 deterministic curriculum order: quality-staged (4 fixed "
    "thresholds, best first), salted-hash shuffle within stage, global "
    "position by two-level rank (per-bucket row_number + broadcast offsets). "
    "Scale: no global-sort window — the naive ORDER BY stage,h collapses to "
    "one task; this stays stage x 64-bucket parallel. Seedless + "
    "reshard-stable: position is a pure function of (text, doc_id)",
)
def cc13_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return _CP.curriculum_order(load_table(spark, sf_dir, "documents")).orderBy("position")


# --- CC14: the training-data RELEASE manifest ----------------------------------
# The end-to-end deliverable this catalog's pieces exist for: cc1's curated
# keep set, split by sp1's salted hash, the TRAIN split put in cc13's
# curriculum order, and the curriculum stream packed into pk1's fixed-budget
# shards — one row per released document carrying its split, curriculum
# position, shard and offset (val/test rows carry NULLs: held-out sets are
# never packed into training shards).
def cc14_manifest_ctes(pred: str = "TRUE", p: str = "") -> str:
    """The cc14 release-manifest pipeline as CTE text ending in a
    ``{p}manifest`` relation — shared by the cc14 oracle, cc15's
    multimodal-release oracle (multimodal_q) and cc16's release diff
    (two prefixed copies over different corpus predicates)."""
    t0, t1, t2 = _CP.CURRICULUM_THRESHOLDS
    h = _CP._salted_bucket_sql(_CP.CURRICULUM_SALT, 2**31)
    return f"""{cc1_ctes(pred, p)},
{p}sp AS (SELECT *, {_CP.split_stage_sql('doc_id')} AS s FROM {p}kept),
{p}tr AS (
  SELECT *, CASE WHEN quality_score >= {t0} THEN 0
                 WHEN quality_score >= {t1} THEN 1
                 WHEN quality_score >= {t2} THEN 2 ELSE 3 END AS stage,
         {h} AS h
  FROM {p}sp WHERE s = 0
),
{p}pos AS (
  SELECT *, row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS position
  FROM {p}tr
),
{p}pk AS (
  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY position ROWS UNBOUNDED PRECEDING)
                 - n_tokens AS BIGINT) AS start_offset
  FROM {p}pos
),
{p}manifest AS (
  SELECT doc_id, {_CP.split_name_sql('s')} AS split, n_tokens, quality_score,
         CAST(stage AS BIGINT) AS stage, CAST(position AS BIGINT) AS position,
         CAST(floor(start_offset / {_CP.PACK_BUDGET}) AS BIGINT) AS shard_id,
         start_offset
  FROM {p}pk
  UNION ALL
  SELECT doc_id, {_CP.split_name_sql('s')} AS split, n_tokens, quality_score,
         NULL, NULL, NULL, NULL
  FROM {p}sp WHERE s >= 1
)"""


def _cc14_oracle() -> str:
    return f"""
WITH {cc14_manifest_ctes()}
SELECT doc_id, split, n_tokens, quality_score, stage, position, shard_id, start_offset
FROM manifest
ORDER BY split, position, doc_id"""


@register(
    "cc14_release_manifest",
    oracle=_cc14_oracle(),
    doc="CC14 training-data release manifest — the composed deliverable: cc1 "
    "curation -> sp1 hash split -> cc13 curriculum order over the TRAIN split "
    "-> pk1 packing in curriculum order (budget 2048); one row per released "
    "doc with split/stage/position/shard/offset, val/test rows unpacked "
    "(NULLs). Scale: every stage is an audited fragment — shared LSH pair "
    "index, zero-shuffle split/stage projections, two-level curriculum rank, "
    "two-level packing cumsum; no global sort, no corpus-sized window",
)
def cc14_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs

    return release_manifest_df(
        load_table(spark, sf_dir, "documents"), shared_pairs(spark, sf_dir, 0.9)
    ).orderBy("split", "position", "doc_id")


def release_manifest_df(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """cc14's manifest over an arbitrary corpus state — the composition
    point cc16's release diff uses to build v1/v2 manifests from the same
    audited fragments."""
    kept = curate_corpus(docs, pairs=pairs)
    sp = kept.withColumn("s", _CP.split_stage(F.col("doc_id")))
    train = sp.filter(F.col("s") == 0)
    ranked = _CP.curriculum_rank(train.select("doc_id", "quality_score"))
    packed = _CP.pack_counts(
        ranked.join(train.select("doc_id", "n_tokens"), "doc_id").select(
            "doc_id", "n_tokens", "position"
        ),
        order_col="position",
    )
    split_name = (
        F.when(F.col("s") == 0, "train").when(F.col("s") == 1, "val").otherwise("test")
    )
    train_rows = (
        train.join(ranked.select("doc_id", "stage", "position"), "doc_id")
        .join(packed.select("doc_id", "shard_id", "start_offset"), "doc_id")
        .select(
            "doc_id",
            split_name.alias("split"),
            "n_tokens",
            "quality_score",
            "stage",
            "position",
            "shard_id",
            F.col("start_offset").cast("long").alias("start_offset"),
        )
    )
    held_rows = sp.filter(F.col("s") >= 1).select(
        "doc_id",
        split_name.alias("split"),
        "n_tokens",
        "quality_score",
        F.lit(None).cast("long").alias("stage"),
        F.lit(None).cast("long").alias("position"),
        F.lit(None).cast("long").alias("shard_id"),
        F.lit(None).cast("long").alias("start_offset"),
    )
    return train_rows.unionByName(held_rows)


# --- CC16: the release DIFF manifest ---------------------------------------------
# Incremental releases: a corpus grows (crawl drop, partner delivery) and
# the training loader needs to know exactly which docs entered, which
# left, and which moved shards — a full re-download is a 100 TB no-op
# answer. cc16 diffs two cc14 manifests (corpus v1 = first half by
# doc_id, v2 = full — the two-batch convention of st7/st17): one row per
# doc in either release with status added/removed/moved/unchanged and
# both releases' coordinates. "removed" is real, not hypothetical: a new
# doc can near-dup an old keeper's cluster and flip the kept member, and
# new quality/near-dup evidence can drop a previously-released doc.
_CC16_CUT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"


def _cc16_oracle() -> str:
    return f"""
WITH {cc14_manifest_ctes(f"doc_id < {_CC16_CUT}", "v1_")},
{cc14_manifest_ctes("TRUE", "v2_")}
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.split <> b.split
                 OR COALESCE(a.position, -1) <> COALESCE(b.position, -1)
                 OR COALESCE(a.shard_id, -1) <> COALESCE(b.shard_id, -1)
              THEN 'moved'
            ELSE 'unchanged' END AS status,
       a.split AS old_split, b.split AS new_split,
       a.position AS old_position, b.position AS new_position,
       a.shard_id AS old_shard, b.shard_id AS new_shard
FROM v1_manifest a FULL OUTER JOIN v2_manifest b ON a.doc_id = b.doc_id
ORDER BY doc_id"""


def release_diff_df(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """Diff two cc14-shaped release manifests (v1 old, v2 new): one row
    per doc in either release — status added/removed/moved/unchanged plus
    both releases' split/position/shard coordinates. ONE full-outer
    equi-join on doc_id; the manifests may be built plans (cc16) or
    pruned scans of persisted releases (cc17)."""
    cols = ("split", "position", "shard_id")
    a = v1.select(
        "doc_id",
        *[F.col(c).alias(f"old_{c}") for c in cols],
        F.lit(True).alias("_in_old"),
    )
    b = v2.select(
        "doc_id",
        *[F.col(c).alias(f"new_{c}") for c in cols],
        F.lit(True).alias("_in_new"),
    )
    changed = (
        (F.col("old_split") != F.col("new_split"))
        | (F.coalesce("old_position", F.lit(-1)) != F.coalesce("new_position", F.lit(-1)))
        | (F.coalesce("old_shard_id", F.lit(-1)) != F.coalesce("new_shard_id", F.lit(-1)))
    )
    status = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(changed, "moved")
        .otherwise("unchanged")
    )
    return (
        a.join(b, "doc_id", "full")
        .select(
            "doc_id",
            status.alias("status"),
            "old_split",
            "new_split",
            "old_position",
            "new_position",
            F.col("old_shard_id").alias("old_shard"),
            F.col("new_shard_id").alias("new_shard"),
        )
        .orderBy("doc_id")
    )


@register(
    "cc16_release_diff",
    oracle=_cc16_oracle(),
    doc="CC16 release diff — incremental training releases: diff two cc14 "
    "manifests (corpus v1 = first half, v2 = full) into one row per doc "
    "with status added/removed/moved/unchanged plus both releases' "
    "split/position/shard coordinates ('removed' is real: new near-dup "
    "evidence can flip a keeper). Scale: two audited cc14 plans + ONE "
    "full-outer equi-join on doc_id — no new shuffle shape; the diff "
    "relation is bounded by the union of the two releases",
)
def cc16_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    cut = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    docs1 = docs.filter(F.col("doc_id") < cut)
    v1 = release_manifest_df(docs1, minhash_lsh_pairs(docs1, 0.9))
    v2 = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
    return release_diff_df(v1, v2)


# --- CC17: release diff against a PERSISTED v1 manifest ---------------------------
# r14 VERDICT finding 3: cc16 rebuilds BOTH manifests inside the query —
# right for a self-contained oracle, wrong as the operator a 100 TB
# incremental release actually runs. A release manifest is an immutable
# artifact: v1 was WRITTEN when v1 shipped, and the next release diffs
# its freshly-built v2 against the STORED v1 — the dominant cost (the v1
# curation/LSH chain) is paid zero times, and the diff can never silently
# re-derive different v1 coordinates than the ones training actually
# consumed. cc17 is that operator: release_write persists a manifest
# (parquet, split-partitioned); release_diff_stored scans it back and
# feeds release_diff_df. Semantics pinned equal to cc16 on the same
# inputs (oracle + test).


# the cc14 manifest row shape — also the explicit read schema, so a
# release that shipped ZERO documents (legal: a curation gate can reject
# an entire drop) still reads back as an empty relation instead of
# failing parquet schema inference
_MANIFEST_SCHEMA = (
    "doc_id long, split string, n_tokens long, quality_score double, "
    "stage long, position long, shard_id long, start_offset long"
)


def release_write(manifest: DataFrame, path: str) -> None:
    """Persist a release manifest as the immutable artifact a shipped
    release IS: parquet, partitioned by split (training loaders and the
    diff's future split-scoped readers prune at the directory level)."""
    manifest.write.mode("overwrite").partitionBy("split").parquet(path)


def release_read(spark: SparkSession, path: str) -> DataFrame:
    """Read a persisted manifest with the EXPLICIT manifest schema (the
    split partition column folds back in by name): schema inference over
    an empty release has nothing to infer from, and a schema pinned at
    read time also refuses silent column drift in the stored artifact."""
    return (
        spark.read.schema(_MANIFEST_SCHEMA)
        .parquet(path)
        .select(*[c.split(" ")[0] for c in _MANIFEST_SCHEMA.split(", ")])
    )


def release_diff_stored(spark: SparkSession, v1_path: str, v2: DataFrame) -> DataFrame:
    """Diff a freshly-built v2 manifest against the PERSISTED v1 at
    ``v1_path`` — the v1 side of the full-outer join is a pruned parquet
    scan (doc_id/split/position/shard_id columns only), never a rebuild."""
    return release_diff_df(
        release_read(spark, v1_path).select("doc_id", "split", "position", "shard_id"),
        v2,
    )


@register(
    "cc17_stored_release_diff",
    oracle=_cc16_oracle(),
    doc="CC17 release diff against a PERSISTED v1 manifest — the operator an "
    "incremental release actually runs: v1's manifest is written once "
    "(parquet, split-partitioned) when v1 ships; the next release builds "
    "only v2 and full-outer-joins it against the STORED artifact. Identical "
    "semantics to cc16 (same oracle; equality is test-pinned) at half the "
    "build cost, and the training-consumed v1 coordinates can never be "
    "silently re-derived. Scale: one audited cc14 build + a column-pruned "
    "scan of the v1 parquet + one equi-join on doc_id",
)
def cc17_stored_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    import tempfile

    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
    from pdf_etl_pipeline_spark.operators import fsutil

    docs = load_table(spark, sf_dir, "documents")
    cut = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    docs1 = docs.filter(F.col("doc_id") < cut)
    v1 = release_manifest_df(docs1, minhash_lsh_pairs(docs1, 0.9))
    tmp = tempfile.mkdtemp(prefix="cc17_v1_")
    try:
        release_write(v1, tmp)
        v2 = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
        # materialize before the persisted artifact (temp here; immutable
        # storage in production) disappears
        return release_diff_stored(spark, tmp, v2).localCheckpoint()
    finally:
        fsutil.delete(tmp, recursive=True, spark=spark)


# --- CC18: compact release diff + patch-apply -------------------------------------
# cc16/cc17's diff relation carries one row per doc in EITHER release —
# at 100 TB that is release-sized even when almost nothing changed. What
# actually ships between releases is the COMPACT diff (added/removed/
# moved rows only — bounded by change volume, not corpus size), and the
# consumer-side operator is the PATCH: reconstruct v2's coordinate
# manifest from the stored v1 artifact plus the compact diff, without
# re-running any of v2's curation/LSH chain. cc18 registers the patch
# with its defining invariant as the oracle: apply(v1, compact(diff(v1,
# v2))) must equal v2's coordinates EXACTLY, so the oracle builds v2
# directly and the hash-compare proves the round-trip.


def release_diff_compact(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """The SHIPPABLE diff between two release manifests: cc16's full
    diff minus the 'unchanged' rows. Its size tracks change volume —
    the artifact an incremental 100 TB release actually transfers."""
    return release_diff_df(v1, v2).filter(F.col("status") != "unchanged")


def release_apply_diff(v1: DataFrame, compact_diff: DataFrame) -> DataFrame:
    """PATCH: reconstruct the new release's coordinate manifest
    (doc_id, split, position, shard_id) from the old manifest plus a
    compact diff. v1 rows not named in the diff keep their coordinates
    (they were 'unchanged' by construction); diff rows contribute their
    NEW coordinates unless 'removed'. One left-anti equi-join on doc_id
    + a union — the diff side is change-volume-sized, so Catalyst
    broadcasts it against a release-sized v1 scan; nothing rebuilds."""
    keep = v1.select("doc_id", "split", "position", "shard_id").join(
        compact_diff.select("doc_id"), "doc_id", "left_anti"
    )
    changed = compact_diff.filter(F.col("status") != "removed").select(
        "doc_id",
        F.col("new_split").alias("split"),
        F.col("new_position").alias("position"),
        F.col("new_shard").alias("shard_id"),
    )
    return keep.unionByName(changed)


_CC18_ORACLE = f"""
WITH {cc14_manifest_ctes("TRUE", "v2_")}
SELECT doc_id, split, CAST(position AS BIGINT) AS position,
       CAST(shard_id AS BIGINT) AS shard_id
FROM v2_manifest ORDER BY doc_id"""


# --- DQ11: persisted-release integrity certification ------------------------------
# cc17/cc18 made releases persisted artifacts; dq11 is the gate a loader
# runs BEFORE trusting one: distributed invariant checks over the stored
# manifest — duplicate doc_ids, train-position contiguity (via min/max/
# count-distinct aggregates, deliberately NOT a corpus-wide window),
# shard_id == floor(start_offset/budget) derivation, the packing
# endpoint (max(start+len) == total tokens, min offset 0), and the
# NULL-coordinate discipline (train rows fully coordinated, held-out
# rows fully uncoordinated). One scan + one shuffle on split; every
# check is an aggregate, so the certification costs a fraction of the
# release build it certifies.


def certify_release(manifest: DataFrame, budget: int | None = None) -> DataFrame:
    """Integrity report over a manifest-shaped relation (stored or
    built): one row per split with count columns that must read 0 and
    flag columns that must read true on an uncorrupted artifact."""
    budget = _CP.PACK_BUDGET if budget is None else budget
    is_train = F.col("split") == "train"
    coord_null = (
        F.col("position").isNull()
        | F.col("shard_id").isNull()
        | F.col("start_offset").isNull()
    )
    coord_set = (
        F.col("position").isNotNull()
        | F.col("shard_id").isNotNull()
        | F.col("start_offset").isNotNull()
    )
    g = manifest.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).cast("long").alias("n_dup_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("position").alias("_minp"),
        F.max("position").alias("_maxp"),
        F.countDistinct("position").alias("_ndp"),
        F.sum(
            F.when(
                F.col("position").isNotNull()
                & (
                    F.col("shard_id")
                    != F.floor(F.col("start_offset") / budget).cast("long")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_shard_mismatch"),
        F.min("start_offset").alias("_mino"),
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("_maxe"),
        F.sum(
            F.when(F.when(is_train, coord_null).otherwise(coord_set), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_coord_null_violations"),
    )
    return g.select(
        "split",
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        F.when(
            is_train,
            (F.col("_minp") == 0)
            & (F.col("_maxp") == F.col("n_docs") - 1)
            & (F.col("_ndp") == F.col("n_docs")),
        )
        .otherwise(F.lit(None).cast("boolean"))
        .alias("positions_contiguous"),
        "n_shard_mismatch",
        F.when(
            is_train,
            (F.col("_mino") == 0) & (F.col("_maxe") == F.col("total_tokens")),
        )
        .otherwise(F.lit(None).cast("boolean"))
        .alias("offsets_endpoint_ok"),
        "n_coord_null_violations",
    ).orderBy("split")


_DQ11_ORACLE = f"""
WITH {cc14_manifest_ctes("TRUE", "r_")}
SELECT split,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_dup_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CASE WHEN split = 'train'
            THEN MIN(position) = 0 AND MAX(position) = COUNT(*) - 1
                 AND COUNT(DISTINCT position) = COUNT(*)
            ELSE NULL END AS positions_contiguous,
       CAST(COALESCE(SUM(CASE WHEN position IS NOT NULL
                      AND shard_id <> CAST(floor(start_offset / {_CP.PACK_BUDGET})
                                           AS BIGINT)
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_shard_mismatch,
       CASE WHEN split = 'train'
            THEN MIN(start_offset) = 0
                 AND MAX(start_offset + n_tokens) = SUM(n_tokens)
            ELSE NULL END AS offsets_endpoint_ok,
       CAST(SUM(CASE WHEN split = 'train'
                     THEN CASE WHEN position IS NULL OR shard_id IS NULL
                               OR start_offset IS NULL THEN 1 ELSE 0 END
                     ELSE CASE WHEN position IS NOT NULL OR shard_id IS NOT NULL
                               OR start_offset IS NOT NULL THEN 1 ELSE 0 END END)
            AS BIGINT) AS n_coord_null_violations
FROM r_manifest
GROUP BY split
ORDER BY split"""


@register(
    "dq11_release_certification",
    oracle=_DQ11_ORACLE,
    doc="DQ11 persisted-release integrity certification — the gate a "
    "training loader runs before trusting a stored manifest: per split, "
    "duplicate doc_ids, train-position contiguity (min/max/count-distinct "
    "aggregates, never a corpus-wide window), shard_id derivation from "
    "start_offset, packing endpoint, and NULL-coordinate discipline. "
    "Planted-corruption detection is test-pinned; the registered query "
    "certifies a freshly persisted artifact (violation columns all "
    "0/true, count columns real). Scale: one pruned scan of the stored "
    "release + one shuffle on split",
)
def dq11_release_certification(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    import tempfile

    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.operators import fsutil

    docs = load_table(spark, sf_dir, "documents")
    manifest = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
    tmp = tempfile.mkdtemp(prefix="dq11_release_")
    try:
        release_write(manifest, tmp)
        return certify_release(release_read(spark, tmp)).localCheckpoint()
    finally:
        fsutil.delete(tmp, recursive=True, spark=spark)


@register(
    "cc18_release_patch",
    oracle=_CC18_ORACLE,
    doc="CC18 compact diff + patch-apply — the incremental-release round "
    "trip: v1's manifest persisted (cc17's stored artifact), the COMPACT "
    "diff computed (added/removed/moved only — change-volume-sized, the "
    "thing that ships), then v2's coordinates reconstructed from stored v1 "
    "+ compact diff with one anti-join and a union. The oracle builds v2 "
    "directly, so the hash-compare IS the patch invariant apply(v1, "
    "compact(diff(v1, v2))) == v2. Scale: the patch never re-runs the "
    "curation chain; the diff side broadcasts against the release-sized "
    "stored-v1 scan",
)
def cc18_release_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    import tempfile

    from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
    from pdf_etl_pipeline_spark.operators import fsutil

    docs = load_table(spark, sf_dir, "documents")
    cut = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    docs1 = docs.filter(F.col("doc_id") < cut)
    v1 = release_manifest_df(docs1, minhash_lsh_pairs(docs1, 0.9))
    tmp = tempfile.mkdtemp(prefix="cc18_v1_")
    try:
        release_write(v1, tmp)
        v2 = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
        stored_v1 = release_read(spark, tmp).select(
            "doc_id", "split", "position", "shard_id"
        )
        patch = release_diff_compact(stored_v1, v2)
        return (
            release_apply_diff(stored_v1, patch)
            .orderBy("doc_id")
            .localCheckpoint()
        )
    finally:
        fsutil.delete(tmp, recursive=True, spark=spark)
