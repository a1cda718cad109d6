"""Multimodal-dedup catalog (mm1–mm4) — the image/audio/video near-dup
banding and the cross-modal image-in-video containment registered as
oracle-checked queries (r12 VERDICT item 4 + the r13 bipartite extension).

The hash EXTRACTORS (aHash, spectral fingerprint, frame hashes) are
mapInPandas decoders pinned by real-asset tests (BMP/PNG/JPEG/WAV/AVI in
``tests/test_llmdata.py``) — numpy arithmetic no SQL engine reproduces.
What the oracle CAN check end-to-end is everything downstream of the
hash: the exact pigeonhole banding over distinct hash values, the
Hamming verify, the identical-hash/cross-hash pair reconstruction, and
the video containment roll-up. These queries therefore derive a
DETERMINISTIC synthetic hash relation from the ``documents`` table with
the portable md5 pair (both engines compute bit-identical 64-bit
values), plant near-dup structure with small XOR perturbations, and run
the REAL operators (``phash_dup_pairs`` / ``audio_dup_pairs`` /
``video_dup_pairs``) against a brute-force all-pairs DuckDB oracle —
which doubles as an exactness check: banding must find EXACTLY the
brute-force Hamming pairs, nothing more, nothing less.

Synthetic structure (per group of consecutive doc_ids): one base hash
from md5, members XOR'd with fixed small constants so some pairs land
at Hamming ≤ 3 (found), some identical (Hamming 0 — the degenerate-
collapse path), some just over the budget (excluded by the verify).
Cross-group hashes are independent md5 draws (~32 bits apart).

Scale story: the Spark side is the audited production plan — distinct-
hash banding (duplicate-multiplicity-invariant candidates), codegen
popcount verify, output-bounded expansion joins; the all-pairs shape
exists ONLY in the DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.catalog import (
    TwoBatch,
    halves,
    halving,
    register,
    require_pin,
    unroll,
)
from pdf_etl_pipeline_spark.functions.scalars import portable_hash32, portable_hash32_sql
from pdf_etl_pipeline_spark.llmdata import multimodal as MM
from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
    drop_mm_index,
    guard_framegrab_batch,
    mm_ingest_batch,
    pin_frame_index,
)
from pdf_etl_pipeline_spark.session import load_table, session_memo, tune
from pdf_etl_pipeline_spark.streaming.mm_release import (
    drop_mm_release_state,
    mm_release_batch,
    pin_mm_release_state,
)


def _h64(seed: Column) -> Column:
    """Deterministic positive 64-bit hash both engines reproduce: two
    portable md5-derived 32-bit halves, the high half masked to 31 bits
    so the result stays in [0, 2^63) — bit ops on it agree between
    Spark's signed long and DuckDB's BIGINT."""
    hi = portable_hash32(F.concat(F.lit("a"), seed)) % F.lit(2147483648)
    return (hi * F.lit(4294967296).cast("long") + portable_hash32(F.concat(F.lit("b"), seed))).cast("long")


def _h64_sql(seed: str) -> str:
    hi = portable_hash32_sql(f"'a' || {seed}")
    lo = portable_hash32_sql(f"'b' || {seed}")
    return f"((({hi}) % 2147483648) * 4294967296 + ({lo}))"


# --- mm1: image aHash near-dup pairs ------------------------------------------
# Groups of 4: perturbs [0, 0, 3, 127] -> per complete group the pairs
# (0,1)@H0 (identical twin), (0,2)/(1,2)@H2; member 3 sits at H7, past
# the pigeonhole budget, so its pairs must be verify-pruned.
_MM1_PERTURB = "CASE doc_id % 4 WHEN 2 THEN 3 WHEN 3 THEN 127 ELSE 0 END"


def _mm1_hashes(docs: DataFrame) -> DataFrame:
    g = F.floor(F.col("doc_id") / F.lit(4)).cast("long")
    m = F.col("doc_id") % 4
    perturb = F.when(m == 2, F.lit(3)).when(m == 3, F.lit(127)).otherwise(F.lit(0))
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        _h64(F.concat(F.lit("img"), g.cast("string"))).bitwiseXOR(perturb.cast("long")).alias("phash"),
    )


@register(
    "mm1_phash_pairs",
    oracle=f"""
WITH h AS (
  SELECT doc_id AS asset_id,
         xor({_h64_sql("'img' || CAST(CAST(floor(doc_id / 4) AS BIGINT) AS VARCHAR)")},
             CAST({_MM1_PERTURB} AS BIGINT)) AS phash
  FROM documents
)
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM h a JOIN h b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
ORDER BY asset_a, asset_b""",
    doc="mm1: image aHash near-dup pairs (Hamming<=3) via the exact distinct-hash "
    "pigeonhole banding over a deterministic synthetic hash relation; the "
    "brute-force oracle pins banding exactness (no false positives OR negatives). "
    "Scale: candidates bounded by hash diversity (degeneracy-collapse), codegen "
    "popcount verify, output-bounded expansion — never all-pairs on the Spark side.",
)
def mm1_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return MM.phash_dup_pairs(_mm1_hashes(load_table(spark, sf_dir, "documents")))


# --- mm2: audio spectral-fingerprint near-dup pairs ---------------------------
# Groups of 5: perturbs [0, 1, 6, 96, 255] -> qualifying pairs per group
# (0,1)@H1 (0,2)@H2 (0,3)@H2 (1,2)@H3 (1,3)@H3; member 4 at H8 and the
# (2,3)/(x,4) combinations land at H4-H8 — verify-pruned.
_MM2_PERTURB = (
    "CASE doc_id % 5 WHEN 1 THEN 1 WHEN 2 THEN 6 WHEN 3 THEN 96 WHEN 4 THEN 255 ELSE 0 END"
)


def _mm2_hashes(docs: DataFrame) -> DataFrame:
    g = F.floor(F.col("doc_id") / F.lit(5)).cast("long")
    m = F.col("doc_id") % 5
    perturb = (
        F.when(m == 1, F.lit(1))
        .when(m == 2, F.lit(6))
        .when(m == 3, F.lit(96))
        .when(m == 4, F.lit(255))
        .otherwise(F.lit(0))
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        _h64(F.concat(F.lit("aud"), g.cast("string"))).bitwiseXOR(perturb.cast("long")).alias("afp"),
    )


@register(
    "mm2_audio_pairs",
    oracle=f"""
WITH h AS (
  SELECT doc_id AS asset_id,
         xor({_h64_sql("'aud' || CAST(CAST(floor(doc_id / 5) AS BIGINT) AS VARCHAR)")},
             CAST({_MM2_PERTURB} AS BIGINT)) AS afp
  FROM documents
)
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       bit_count(xor(a.afp, b.afp)) AS hamming
FROM h a JOIN h b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3
ORDER BY asset_a, asset_b""",
    doc="mm2: audio spectral-fingerprint near-dup pairs (Hamming<=3), the audio "
    "twin of mm1 through the shared banding path with a denser perturbation mix "
    "(five members straddling the budget). Same scale story as mm1.",
)
def mm2_audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return MM.audio_dup_pairs(_mm2_hashes(load_table(spark, sf_dir, "documents")))


# --- mm3: video frame-hash near-dup roll-up -----------------------------------
# 4 frames per video (asset_id = doc_id//4, frame_idx = doc_id%4), scenes
# of two consecutive videos sharing base frame hashes; the odd video's
# frames sit at H1/H0/H3/H8 from its partner's -> frames {0,1,2} match,
# frame 3 is verify-pruned, containment = 3/4 per scene pair.
_MM3_ODD_PERTURB = "CASE doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 7 WHEN 3 THEN 255 ELSE 0 END"


def _mm3_frame_hashes(docs: DataFrame) -> DataFrame:
    asset = F.floor(F.col("doc_id") / F.lit(4)).cast("long")
    frame = (F.col("doc_id") % 4).cast("int")
    scene = F.floor(F.col("doc_id") / F.lit(8)).cast("long")
    fperturb = (
        F.when(frame == 0, F.lit(1))
        .when(frame == 2, F.lit(7))
        .when(frame == 3, F.lit(255))
        .otherwise(F.lit(0))
    )
    perturb = F.when(asset % 2 == 1, fperturb).otherwise(F.lit(0))
    seed = F.concat(
        F.lit("vid"), scene.cast("string"), F.lit("f"), frame.cast("string")
    )
    return docs.select(
        asset.alias("asset_id"),
        frame.alias("frame_idx"),
        _h64(seed).bitwiseXOR(perturb.cast("long")).alias("fhash"),
    )


def _mm3_fh_cte(name: str = "fh", pred: str = "TRUE") -> str:
    """The mm3 synthetic frame-hash relation as CTE text, predicate-
    parameterized (st20 pins only the HELD docs' frames)."""
    return f"""{name} AS (
  SELECT CAST(floor(doc_id / 4) AS BIGINT) AS asset_id,
         CAST(doc_id % 4 AS INT) AS frame_idx,
         xor({_h64_sql("'vid' || CAST(CAST(floor(doc_id / 8) AS BIGINT) AS VARCHAR) || 'f' || CAST(CAST(doc_id % 4 AS INT) AS VARCHAR)")},
             CASE WHEN CAST(floor(doc_id / 4) AS BIGINT) % 2 = 1
                  THEN CAST({_MM3_ODD_PERTURB} AS BIGINT) ELSE 0 END) AS fhash
  FROM documents
  WHERE {pred}
)"""


_MM3_FH_CTE = _mm3_fh_cte()


@register(
    "mm3_video_pairs",
    oracle=f"""
WITH {_MM3_FH_CTE},
matched AS (
  SELECT a.asset_id AS asset_a, a.frame_idx AS frame_a,
         b.asset_id AS asset_b, b.frame_idx AS frame_b
  FROM fh a JOIN fh b
    ON a.asset_id < b.asset_id
   AND bit_count(xor(a.fhash, b.fhash)) <= 3
),
per_pair AS (
  SELECT asset_a, asset_b,
         COUNT(DISTINCT frame_a) AS n_matched_a,
         COUNT(DISTINCT frame_b) AS n_matched_b
  FROM matched GROUP BY 1, 2
),
counts AS (SELECT asset_id, COUNT(*) AS n_frames FROM fh GROUP BY 1)
SELECT asset_a, asset_b,
       ca.n_frames AS n_frames_a, cb.n_frames AS n_frames_b,
       n_matched_a, n_matched_b,
       round(greatest(n_matched_a / ca.n_frames, n_matched_b / cb.n_frames), 6) AS match_frac
FROM per_pair
JOIN counts ca ON ca.asset_id = asset_a
JOIN counts cb ON cb.asset_id = asset_b
WHERE round(greatest(n_matched_a / ca.n_frames, n_matched_b / cb.n_frames), 6) >= 0.5
ORDER BY asset_a, asset_b""",
    doc="mm3: video near-dup roll-up — frame-level pigeonhole banding then "
    "containment match_frac (clip-of-longer-video reads 1.0); synthetic scenes "
    "of two videos sharing 3 of 4 frames within the Hamming budget. Scale: only "
    "64-bit frame hashes shuffle, distinct-hash banding + two keyed aggregations.",
)
def mm3_video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return MM.video_dup_pairs(_mm3_frame_hashes(load_table(spark, sf_dir, "documents")))


# --- mm4: cross-modal image-in-video containment -------------------------------
# Images target their doc_id's mm3 scene/frame base: doc_id % 3 == 0 hits
# the even video exactly (H0) and the odd video at that frame's
# perturbation distance (H1/H0/H3 for frames 0-2; frame 3 at H8 prunes);
# % 3 == 1 sits at XOR 2 (even H1; odd H2/H1/H2, frame 3 H7 prunes);
# % 3 == 2 sits at XOR 0xF0F (H8) and never matches anything.
_MM4_IMG_PERTURB = "CASE doc_id % 3 WHEN 1 THEN 2 WHEN 2 THEN 3855 ELSE 0 END"


def _mm4_image_hashes(docs: DataFrame) -> DataFrame:
    scene = F.floor(F.col("doc_id") / F.lit(8)).cast("long")
    fsel = (F.col("doc_id") % 4).cast("int")
    m = F.col("doc_id") % 3
    perturb = F.when(m == 1, F.lit(2)).when(m == 2, F.lit(3855)).otherwise(F.lit(0))
    seed = F.concat(F.lit("vid"), scene.cast("string"), F.lit("f"), fsel.cast("string"))
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        _h64(seed).bitwiseXOR(perturb.cast("long")).alias("phash"),
    )


@register(
    "mm4_image_in_video",
    oracle=f"""
WITH {_MM3_FH_CTE},
img AS (
  SELECT doc_id AS asset_img,
         xor({_h64_sql("'vid' || CAST(CAST(floor(doc_id / 8) AS BIGINT) AS VARCHAR) || 'f' || CAST(CAST(doc_id % 4 AS INT) AS VARCHAR)")},
             CAST({_MM4_IMG_PERTURB} AS BIGINT)) AS phash
  FROM documents
),
m AS (
  SELECT i.asset_img, f.asset_id AS asset_vid, f.frame_idx,
         bit_count(xor(i.phash, f.fhash)) AS hamming
  FROM img i JOIN fh f ON bit_count(xor(i.phash, f.fhash)) <= 3
),
pp AS (
  SELECT asset_img, asset_vid, COUNT(DISTINCT frame_idx) AS n_matched_frames,
         MIN(hamming) AS best_hamming
  FROM m GROUP BY 1, 2
),
cnt AS (SELECT asset_id, COUNT(*) AS n_frames FROM fh GROUP BY 1)
SELECT asset_img, asset_vid, n_matched_frames, c.n_frames AS n_frames,
       round(n_matched_frames / c.n_frames, 6) AS match_frac, best_hamming
FROM pp JOIN cnt c ON c.asset_id = asset_vid
ORDER BY asset_img, asset_vid""",
    doc="mm4: cross-modal image-in-video containment — which videos hold a "
    "frame within Hamming 3 of each image's aHash (frame-grab provenance for "
    "a multimodal corpus). BIPARTITE distinct-hash pigeonhole banding (the "
    "degeneracy guard on both sides), popcount verify per distinct cross "
    "pair, output-bounded expansion, one keyed roll-up; the brute-force "
    "all-pairs shape exists only in the DuckDB oracle.",
)
def mm4_image_in_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    return MM.image_in_video_pairs(_mm4_image_hashes(docs), _mm3_frame_hashes(docs))


# --- mm5: multimodal dedup MANIFEST (canonical keepers across modalities) -------
# The delivery step the mm pair families exist for: per modality, connected
# components over the near-dup pair graph (pairs under-delete — near-dup is
# transitive), one canonical keeper per component, one manifest row per
# asset. The multimodal twin of dd6's "keep one per group" deliverable.
from pdf_etl_pipeline_spark.catalog.dedup_q import _label_rounds  # noqa: E402
from pdf_etl_pipeline_spark.llmdata.dedup import label_components  # noqa: E402

_MM5_ROUNDS = 12  # component diameters here are tiny; 12 matches dd6b's oracle bound


def _mm5_manifest_arm(nodes: DataFrame, pairs: DataFrame, modality: str) -> DataFrame:
    labels = label_components(
        nodes,
        pairs.select(F.col("asset_a").alias("doc_a"), F.col("asset_b").alias("doc_b")),
        rounds=_MM5_ROUNDS,
        doubling=False,
    )
    return labels.select(
        F.lit(modality).alias("modality"),
        F.col("doc_id").alias("asset_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def _mm_img_aud_arm_ctes() -> str:
    """The image + audio dedup arms as CTE text: synthetic hash relations
    (himg/haud), brute-force pair/edge/node CTEs, and the converged
    min-label component rounds (ki_*/ka_*) — shared by the mm5 oracle and
    cc15's multimodal-release oracle."""
    himg = f"""SELECT doc_id AS asset_id,
         xor({_h64_sql("'img' || CAST(CAST(floor(doc_id / 4) AS BIGINT) AS VARCHAR)")},
             CAST({_MM1_PERTURB} AS BIGINT)) AS h
  FROM documents"""
    haud = f"""SELECT doc_id AS asset_id,
         xor({_h64_sql("'aud' || CAST(CAST(floor(doc_id / 5) AS BIGINT) AS VARCHAR)")},
             CAST({_MM2_PERTURB} AS BIGINT)) AS h
  FROM documents"""
    arm = lambda tag: f"""p{tag} AS (
  SELECT a.asset_id AS doc_a, b.asset_id AS doc_b
  FROM h{tag} a JOIN h{tag} b ON a.asset_id < b.asset_id
  WHERE bit_count(xor(a.h, b.h)) <= 3
),
e{tag} AS MATERIALIZED (
  SELECT doc_a, doc_b FROM p{tag}
  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM p{tag}
),
n{tag} AS (SELECT asset_id AS doc_id FROM h{tag})"""
    return f"""himg AS ({himg}),
haud AS ({haud}),
{arm('img')},
{arm('aud')},
{_label_rounds(_MM5_ROUNDS, nodes="nimg", edges="eimg", prefix="ki_")},
{_label_rounds(_MM5_ROUNDS, nodes="naud", edges="eaud", prefix="ka_")}"""


def _mm5_oracle() -> str:
    return f"""
WITH {_mm_img_aud_arm_ctes()},
{_MM3_FH_CTE},
vmatched AS (
  SELECT a.asset_id AS asset_a, a.frame_idx AS frame_a,
         b.asset_id AS asset_b, b.frame_idx AS frame_b
  FROM fh a JOIN fh b
    ON a.asset_id < b.asset_id
   AND bit_count(xor(a.fhash, b.fhash)) <= 3
),
vper AS (
  SELECT asset_a, asset_b,
         COUNT(DISTINCT frame_a) AS n_matched_a,
         COUNT(DISTINCT frame_b) AS n_matched_b
  FROM vmatched GROUP BY 1, 2
),
vcounts AS (SELECT asset_id, COUNT(*) AS n_frames FROM fh GROUP BY 1),
pvid AS (
  SELECT asset_a AS doc_a, asset_b AS doc_b
  FROM vper
  JOIN vcounts ca ON ca.asset_id = asset_a
  JOIN vcounts cb ON cb.asset_id = asset_b
  WHERE round(greatest(n_matched_a / ca.n_frames, n_matched_b / cb.n_frames), 6) >= 0.5
),
evid AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pvid
  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pvid
),
nvid AS (SELECT DISTINCT asset_id AS doc_id FROM fh),
{_label_rounds(_MM5_ROUNDS, nodes="nvid", edges="evid", prefix="kv_")}
SELECT 'image' AS modality, doc_id AS asset_id, cluster_id,
       doc_id = cluster_id AS is_keeper FROM ki_{_MM5_ROUNDS}
UNION ALL
SELECT 'audio', doc_id, cluster_id, doc_id = cluster_id FROM ka_{_MM5_ROUNDS}
UNION ALL
SELECT 'video', doc_id, cluster_id, doc_id = cluster_id FROM kv_{_MM5_ROUNDS}
ORDER BY modality, asset_id"""


@register(
    "mm5_dedup_manifest",
    oracle=_mm5_oracle(),
    doc="mm5: the multimodal dedup MANIFEST — per modality (image pHash, audio "
    "fingerprint, video containment roll-up), connected components over the "
    "near-dup pair graph (transitive closure, not pair deletion), one "
    "canonical keeper per component, one row per asset. Scale: each arm is "
    "the already-audited banding + the checkpointed min-label engine "
    "(convergence-certified, lineage truncated per round); modalities are "
    "independent arms, never a cross-modality join",
)
def mm5_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    img = _mm5_manifest_arm(
        _mm1_hashes(docs).select(F.col("asset_id").alias("doc_id")),
        MM.phash_dup_pairs(_mm1_hashes(docs)),
        "image",
    )
    aud = _mm5_manifest_arm(
        _mm2_hashes(docs).select(F.col("asset_id").alias("doc_id")),
        MM.audio_dup_pairs(_mm2_hashes(docs)),
        "audio",
    )
    fh = _mm3_frame_hashes(docs)
    vid = _mm5_manifest_arm(
        fh.select(F.col("asset_id").alias("doc_id")).distinct(),
        MM.video_dup_pairs(fh),
        "video",
    )
    return img.unionByName(aud).unionByName(vid).orderBy("modality", "asset_id")


# --- cc15: the MULTIMODAL training-data release manifest ------------------------
# r13 VERDICT item 4: cc14's release manifest is text-only; a multimodal
# training release must resolve every released document's attached assets
# to their mm5 canonical keepers — a doc whose image/audio is a dropped
# near-duplicate ships the KEEPER's asset id, so the release never
# contains two copies of the same perceptual content. Composes the two
# proven fragments verbatim: cc14's manifest (curation -> split ->
# curriculum -> packing) joined per-doc to the image and audio component
# closures (video assets attach to a doc subset only and stay in mm5's
# own manifest). Columns: the cc14 row + (image_asset,
# image_is_canonical, audio_asset, audio_is_canonical).
from pdf_etl_pipeline_spark.catalog.curation_q import (  # noqa: E402
    cc14_manifest_ctes,
    cc14_release_manifest,
)


def _cc15_oracle() -> str:
    r = _MM5_ROUNDS
    return f"""
WITH {cc14_manifest_ctes()},
{_mm_img_aud_arm_ctes()}
SELECT m.doc_id, m.split, m.n_tokens, m.quality_score, m.stage, m.position,
       m.shard_id, m.start_offset,
       ki.cluster_id AS image_asset,
       ki.cluster_id = m.doc_id AS image_is_canonical,
       ka.cluster_id AS audio_asset,
       ka.cluster_id = m.doc_id AS audio_is_canonical
FROM manifest m
JOIN ki_{r} ki ON ki.doc_id = m.doc_id
JOIN ka_{r} ka ON ka.doc_id = m.doc_id
ORDER BY m.split, m.position, m.doc_id"""


@register(
    "cc15_multimodal_release",
    oracle=_cc15_oracle(),
    doc="cc15: the MULTIMODAL release manifest — cc14's composed deliverable "
    "(curation -> hash split -> curriculum order -> packing) with every "
    "released doc's image and audio assets resolved to their mm5 canonical "
    "keepers (component closure, not pair deletion): a doc whose asset is a "
    "dropped near-dup carries the keeper's asset id. Scale: cc14's audited "
    "two-level-rank/packing plan + two independent per-modality component "
    "joins on doc_id — no cross-modality join, no new shuffle shape",
)
def cc15_multimodal_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    img = _mm5_manifest_arm(
        _mm1_hashes(docs).select(F.col("asset_id").alias("doc_id")),
        MM.phash_dup_pairs(_mm1_hashes(docs)),
        "image",
    ).select(
        F.col("asset_id").alias("doc_id"),
        F.col("cluster_id").alias("image_asset"),
        F.col("is_keeper").alias("image_is_canonical"),
    )
    aud = _mm5_manifest_arm(
        _mm2_hashes(docs).select(F.col("asset_id").alias("doc_id")),
        MM.audio_dup_pairs(_mm2_hashes(docs)),
        "audio",
    ).select(
        F.col("asset_id").alias("doc_id"),
        F.col("cluster_id").alias("audio_asset"),
        F.col("is_keeper").alias("audio_is_canonical"),
    )
    return (
        cc14_release_manifest(spark, sf_dir)
        .join(img, "doc_id")
        .join(aud, "doc_id")
        .orderBy("split", "position", "doc_id")
    )


# --- st17: incremental MULTIMODAL asset ingest (streaming twin) -----------------
# st7's on-disk-index admission pattern over 64-bit perceptual hashes
# (llmdata/mm_ingest.py): intra-batch banding-pair components keep the
# min-asset_id canonical; survivors probe the band-partitioned index of
# previously-admitted assets (popcount verify on the joined row — the
# hash rides in the band row, no second verify relation); admitted band
# rows append. The registered query unrolls TWO batches (median split of
# the mm1 synthetic hash relation) against a fresh index — exactly the
# foreachBatch body — and the oracle recomputes both batches brute-force.
_ST17_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"


def _st17_oracle() -> str:
    r = _MM5_ROUNDS
    half = lambda tag, pred: f"""h{tag} AS MATERIALIZED (
  SELECT asset_id, phash FROM hmm WHERE {pred}
),
p{tag} AS (
  SELECT a.asset_id AS doc_a, b.asset_id AS doc_b
  FROM h{tag} a JOIN h{tag} b ON a.asset_id < b.asset_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
),
e{tag} AS MATERIALIZED (
  SELECT doc_a, doc_b FROM p{tag}
  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM p{tag}
),
n{tag} AS (SELECT asset_id AS doc_id FROM h{tag}),
{_label_rounds(r, nodes=f"n{tag}", edges=f"e{tag}", prefix=f"m{tag}_")},
keep{tag} AS MATERIALIZED (SELECT doc_id FROM m{tag}_{r} WHERE doc_id = cluster_id)"""
    return f"""
WITH hmm AS (
  SELECT doc_id AS asset_id,
         xor({_h64_sql("'img' || CAST(CAST(floor(doc_id / 4) AS BIGINT) AS VARCHAR)")},
             CAST({_MM1_PERTURB} AS BIGINT)) AS phash
  FROM documents
),
{half(1, f"asset_id < {_ST17_SPLIT}")},
{half(2, f"asset_id >= {_ST17_SPLIT}")},
xm AS (
  SELECT DISTINCT a.asset_id AS new_id
  FROM h2 a JOIN h1 b ON bit_count(xor(a.phash, b.phash)) <= 3
  WHERE a.asset_id IN (SELECT doc_id FROM keep2)
    AND b.asset_id IN (SELECT doc_id FROM keep1)
)
SELECT doc_id AS asset_id, CAST(0 AS BIGINT) AS batch_id FROM keep1
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT) AS batch_id FROM keep2
WHERE doc_id NOT IN (SELECT new_id FROM xm)
ORDER BY asset_id"""


@register(
    "st17_multimodal_ingest",
    oracle=_st17_oracle(),
    doc="st17: incremental multimodal asset ingest — per batch, exact "
    "banding-pair components keep one canonical asset, survivors probe the "
    "band_idx-partitioned on-disk index of admitted assets (PartitionFilters "
    "prune unprobed partitions; same-asset_id replay exclusion; popcount "
    "verify on the joined row) and admitted band rows append. Two-batch "
    "unroll against a brute-force DuckDB oracle. Scale: one equi-join per "
    "probe, state = 4 band rows per admitted asset, admitted hashes pairwise "
    "Hamming-separated so the index can never accumulate a degenerate pile",
)
def st17_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST17, order=("asset_id",))


def _st17_stage(spark: SparkSession, sf_dir: str, state: str):
    docs = load_table(spark, sf_dir, "documents")
    body = lambda batch, b: mm_ingest_batch(batch, state).select("asset_id")
    return halves(_mm1_hashes(docs), halving(docs), "asset_id"), body


_ST17 = TwoBatch("st17_index_", _st17_stage, drop_mm_index)


# --- st18: frame-grab admission guard --------------------------------------------
# mm4's cross-modal containment as a PINNED admission guard (st13/st15's
# pattern): the held corpus's video frame hashes pin once; every arriving
# image batch is screened — one verdict row per image (n_matched_videos,
# n_matched_frames, best_hamming, is_framegrab). Screening is against the
# pin only, so the two-batch unroll's verdicts are independent of the
# batching and the oracle is a single brute-force image × frame pass.
_ST18_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"

_ST18_ORACLE = f"""
WITH himg AS (
  SELECT doc_id AS asset_id,
         xor({_h64_sql("'img' || CAST(CAST(floor(doc_id / 4) AS BIGINT) AS VARCHAR)")},
             CAST({_MM1_PERTURB} AS BIGINT)) AS phash
  FROM documents
),
{_MM3_FH_CTE},
m AS (
  SELECT i.asset_id AS img, f.asset_id AS vid, f.frame_idx,
         bit_count(xor(i.phash, f.fhash)) AS hd
  FROM himg i JOIN fh f ON bit_count(xor(i.phash, f.fhash)) <= 3
)
SELECT i.asset_id,
       CAST(COUNT(DISTINCT m.vid) AS BIGINT) AS n_matched_videos,
       CAST(COUNT(DISTINCT (m.vid, m.frame_idx)) FILTER (WHERE m.vid IS NOT NULL)
            AS BIGINT) AS n_matched_frames,
       CAST(MIN(m.hd) AS BIGINT) AS best_hamming,
       COUNT(m.vid) > 0 AS is_framegrab,
       CAST(CASE WHEN i.asset_id < {_ST18_SPLIT} THEN 0 ELSE 1 END AS BIGINT) AS batch_id
FROM himg i LEFT JOIN m ON m.img = i.asset_id
GROUP BY i.asset_id
ORDER BY i.asset_id"""


@register(
    "st18_framegrab_guard",
    oracle=_ST18_ORACLE,
    doc="st18: frame-grab admission guard — the held videos' frame hashes "
    "pin write-once; each arriving image batch screens against the pin "
    "(bipartite distinct-hash banding WITH the hot-band recursion on both "
    "sides, popcount verify per distinct cross pair, output-bounded asset "
    "expansion, one keyed roll-up) and emits one verdict row per image. "
    "Two-batch unroll vs a brute-force oracle. Scale: pin-only screening "
    "(replay bit-identical), candidates bounded by hash diversity — a "
    "letterboxed pin cannot go quadratic",
)
def st18_framegrab_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return unroll(spark, sf_dir, _ST18, order=("asset_id",))


def _st18_stage(spark: SparkSession, sf_dir: str, state: str):
    docs = load_table(spark, sf_dir, "documents")
    require_pin(pin_frame_index(_mm3_frame_hashes(docs), state), "st18")
    body = lambda batch, b: guard_framegrab_batch(batch, state)
    return halves(_mm1_hashes(docs), halving(docs), "asset_id"), body


_ST18 = TwoBatch("st18_pin_", _st18_stage)


# --- dq9: MULTIMODAL split leakage ------------------------------------------------
# dq8's audit extended to attached assets: a held-out doc whose image or
# audio near-dups a train doc's asset leaks perceptual content across the
# split even when the texts differ (dq8 would miss it). Same scale shape
# as dq8 — split staging is a pure projection over each modality's
# corpus-linear pair relation (asset ids ARE doc ids for the per-doc
# image/audio arms), 6-row aggregate per arm, split sizes broadcast;
# modality arms are independent, never a cross-modality join.
from pdf_etl_pipeline_spark.llmdata import corpus as _CPm  # noqa: E402


def _dq9_oracle() -> str:
    sa, sb = _CPm.split_stage_sql("doc_a"), _CPm.split_stage_sql("doc_b")
    arm = lambda tag, mod: f"""p9{tag} AS (
  SELECT a.asset_id AS doc_a, b.asset_id AS doc_b
  FROM h{tag} a JOIN h{tag} b ON a.asset_id < b.asset_id
  WHERE bit_count(xor(a.h, b.h)) <= 3
),
s9{tag} AS (
  SELECT least(sa, sb) AS lo_s, greatest(sa, sb) AS hi_s,
         CASE WHEN sa >= sb THEN doc_a ELSE doc_b END AS hi_doc
  FROM (SELECT doc_a, doc_b, {sa} AS sa, {sb} AS sb FROM p9{tag})
),
a9{tag} AS (
  SELECT '{mod}' AS modality, lo_s, hi_s,
         COUNT(*) AS n_pairs, COUNT(DISTINCT hi_doc) AS n_dup_docs
  FROM s9{tag} GROUP BY 2, 3
)"""
    himg = f"""SELECT doc_id AS asset_id,
         xor({_h64_sql("'img' || CAST(CAST(floor(doc_id / 4) AS BIGINT) AS VARCHAR)")},
             CAST({_MM1_PERTURB} AS BIGINT)) AS h
  FROM documents"""
    haud = f"""SELECT doc_id AS asset_id,
         xor({_h64_sql("'aud' || CAST(CAST(floor(doc_id / 5) AS BIGINT) AS VARCHAR)")},
             CAST({_MM2_PERTURB} AS BIGINT)) AS h
  FROM documents"""
    return f"""
WITH himg AS ({himg}),
haud AS ({haud}),
{arm('img', 'image')},
{arm('aud', 'audio')},
sizes AS (
  SELECT {_CPm.split_stage_sql('doc_id')} AS hi_s, COUNT(*) AS n_docs_hi
  FROM documents GROUP BY 1
),
un AS (SELECT * FROM a9img UNION ALL SELECT * FROM a9aud)
SELECT modality, {_CPm.split_name_sql('lo_s')} AS split_lo,
       {_CPm.split_name_sql('hi_s')} AS split_hi,
       lo_s <> hi_s AS is_leak, n_pairs, n_dup_docs, n_docs_hi,
       round(n_dup_docs / n_docs_hi, 6) AS dup_doc_rate
FROM un JOIN sizes USING (hi_s)
ORDER BY modality, split_lo, split_hi"""


@register(
    "dq9_multimodal_leakage",
    oracle=_dq9_oracle(),
    doc="dq9: multimodal split-leakage audit — dq8 over the image and audio "
    "near-dup pair relations (a held-out doc whose ASSET near-dups a train "
    "doc's asset leaks perceptual content even when the texts differ). Per "
    "(modality, split combination): pair count, distinct held-out docs "
    "carrying a dup, rate vs split size, is_leak on cross-split rows. "
    "Scale: pure projection over each arm's banded pair relation, 6-row "
    "aggregates, sizes broadcast — dq8's audited shape per modality",
)
def dq9_multimodal_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    arms = []
    for mod, pairs in (
        ("image", MM.phash_dup_pairs(_mm1_hashes(docs))),
        ("audio", MM.audio_dup_pairs(_mm2_hashes(docs))),
    ):
        arms.append(
            _CPm.split_leakage(
                docs,
                pairs.select(
                    F.col("asset_a").alias("doc_a"), F.col("asset_b").alias("doc_b")
                ),
            ).select(F.lit(mod).alias("modality"), "*")
        )
    return arms[0].unionByName(arms[1]).orderBy("modality", "split_lo", "split_hi")


# --- st20: multimodal guarded streaming RELEASE (the composed capstone) -----------
# st16's shape for the multimodal side: per micro-batch of (doc_id, text,
# phash) documents — st19 containment guard (pinned held-corpus text),
# st18 frame-grab guard (pinned held-video frames), st17 asset admission
# with cc15's canonical-keeper resolution, and a per-batch delivery
# manifest over the admit verdicts. Verdict precedence: contained >
# frame-grab > dup-asset > admit; both guard families drop BEFORE the
# asset index sees the doc. The registered queries unroll TWO real
# batches (median doc_id split of the train-stage corpus) against fresh
# pins; the oracle recomputes everything brute-force — guards as all-pairs
# screens, per-batch components as unrolled min-label rounds, the
# cross-batch canonical as the min admitted batch-0 asset within Hamming
# budget.
#
# Synthetic doc->image attachment: most docs draw their phash from a
# 64-family 'mmr' pool (family = doc_id % 64 — families SPAN the batch
# split, so cross-batch admission dedup really fires) perturbed by
# doc_id % 3 into {0, 2, 3} (pairwise Hamming <= 2 — family members are
# genuine near-dups); every 8th doc (doc_id % 8 = 7) instead carries a
# FRAME GRAB of its scene's video (mm3/mm4's 'vid' seed), which hits the
# pin whenever that frame's holder is a held doc.
from pdf_etl_pipeline_spark.llmdata.dedup import (  # noqa: E402
    SHINGLE_N as _ST20_SHINGLE_N,
    tokens_sql as _st20_tokens_sql,
)

_ST20_SPLIT = "(SELECT (MAX(doc_id) + 1) // 2 FROM documents)"
_ST20_PERTURB = "CASE doc_id % 3 WHEN 1 THEN 2 WHEN 2 THEN 3 ELSE 0 END"
_ST20_SEED_SQL = (
    "CASE WHEN doc_id % 8 = 7 THEN "
    "'vid' || CAST(CAST(floor(doc_id / 8) AS BIGINT) AS VARCHAR) || 'f' || "
    "CAST(CAST(doc_id % 4 AS INT) AS VARCHAR) "
    "ELSE 'mmr' || CAST(doc_id % 64 AS VARCHAR) END"
)
# the containment unit is word SHINGLES (see mm_release.CONT_UNIT_N): on a
# tiny shared vocabulary, bag-of-words containment flags everything —
# shingle containment flags exactly the planted cross-split excerpts
_ST20_TOKSH = _CPm._shingle_hashes_sql("text", _ST20_SHINGLE_N)
_ST20_NTOK = f"CAST(len({_st20_tokens_sql('text', distinct=False)}) AS BIGINT)"
_ST20_ROUNDS = _MM5_ROUNDS


def _st20_doc_assets(docs: DataFrame) -> DataFrame:
    """(doc_id, text, phash) — the synthetic multimodal attachment
    (Spark twin of _ST20_SEED_SQL/_ST20_PERTURB)."""
    d = F.col("doc_id")
    m = d % 3
    perturb = F.when(m == 1, F.lit(2)).when(m == 2, F.lit(3)).otherwise(F.lit(0))
    seed = F.when(
        d % 8 == 7,
        F.concat(
            F.lit("vid"),
            F.floor(d / F.lit(8)).cast("long").cast("string"),
            F.lit("f"),
            (d % 4).cast("int").cast("string"),
        ),
    ).otherwise(F.concat(F.lit("mmr"), (d % 64).cast("string")))
    return docs.select(
        "doc_id", "text", _h64(seed).bitwiseXOR(perturb.cast("long")).alias("phash")
    )


def _st20_ver_ctes() -> str:
    stage = _CPm.split_stage_sql("doc_id")
    held = f"({stage}) >= 1"
    corpus = f"({stage}) = 0"
    batch_pairs = lambda b: f"""p{b} AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM h{b} a JOIN h{b} b ON a.doc_id < b.doc_id
   AND bit_count(xor(a.phash, b.phash)) <= 3
),
e{b} AS MATERIALIZED (
  SELECT doc_a, doc_b FROM p{b}
  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM p{b}
),
n{b} AS (SELECT doc_id FROM h{b})"""
    return f"""mh AS MATERIALIZED (
  SELECT doc_id, xor({_h64_sql(_ST20_SEED_SQL)},
                     CAST({_ST20_PERTURB} AS BIGINT)) AS phash
  FROM documents WHERE {corpus}
),
{_mm3_fh_cte("hfh", held)},
creps AS (SELECT MIN(doc_id) AS doc_id FROM documents WHERE {held} GROUP BY md5(text)),
hth AS MATERIALIZED (
  SELECT doc_id AS held_id, {_ST20_TOKSH} AS th FROM documents
  WHERE doc_id IN (SELECT doc_id FROM creps)
),
bt AS MATERIALIZED (SELECT doc_id, {_ST20_TOKSH} AS ta FROM documents WHERE {corpus}),
contained AS MATERIALIZED (
  SELECT DISTINCT b.doc_id FROM bt b JOIN hth h
    ON len(list_intersect(b.ta, h.th)) /
         nullif(least(len(b.ta), len(h.th)), 0) >= 0.9
),
s1 AS MATERIALIZED (
  SELECT doc_id, phash FROM mh
  WHERE doc_id NOT IN (SELECT doc_id FROM contained)
),
grabbed AS MATERIALIZED (
  SELECT DISTINCT i.doc_id FROM s1 i JOIN hfh f
    ON bit_count(xor(i.phash, f.fhash)) <= 3
),
h1 AS MATERIALIZED (
  SELECT doc_id, phash FROM s1
  WHERE doc_id NOT IN (SELECT doc_id FROM grabbed) AND doc_id < {_ST20_SPLIT}
),
h2 AS MATERIALIZED (
  SELECT doc_id, phash FROM s1
  WHERE doc_id NOT IN (SELECT doc_id FROM grabbed) AND doc_id >= {_ST20_SPLIT}
),
{batch_pairs(1)},
{batch_pairs(2)},
{_label_rounds(_ST20_ROUNDS, nodes="n1", edges="e1", prefix="sk1_")},
{_label_rounds(_ST20_ROUNDS, nodes="n2", edges="e2", prefix="sk2_")},
adm1 AS MATERIALIZED (
  SELECT k.doc_id, h.phash FROM sk1_{_ST20_ROUNDS} k JOIN h1 h USING (doc_id)
  WHERE k.doc_id = k.cluster_id
),
match2 AS (
  SELECT k.doc_id AS keeper, MIN(a.doc_id) AS idx_canon
  FROM sk2_{_ST20_ROUNDS} k JOIN h2 h ON h.doc_id = k.doc_id
  JOIN adm1 a ON bit_count(xor(h.phash, a.phash)) <= 3
  WHERE k.doc_id = k.cluster_id
  GROUP BY 1
),
canon AS MATERIALIZED (
  SELECT doc_id, cluster_id AS canonical FROM sk1_{_ST20_ROUNDS}
  UNION ALL
  SELECT l.doc_id, COALESCE(m.idx_canon, l.cluster_id) AS canonical
  FROM sk2_{_ST20_ROUNDS} l LEFT JOIN match2 m ON m.keeper = l.cluster_id
),
ver20 AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(CASE WHEN d.doc_id < {_ST20_SPLIT} THEN 0 ELSE 1 END AS BIGINT)
           AS batch_id,
         {_ST20_NTOK} AS n_tokens,
         CASE WHEN d.doc_id IN (SELECT doc_id FROM contained)
                THEN 'drop_contained'
              WHEN d.doc_id IN (SELECT doc_id FROM grabbed)
                THEN 'drop_framegrab'
              WHEN c.canonical <> d.doc_id THEN 'drop_dup_asset'
              ELSE 'admit' END AS verdict,
         c.canonical AS canonical_asset
  FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
  WHERE ({_CPm.split_stage_sql('d.doc_id')}) = 0
)"""


_ST20_VERDICTS_ORACLE = f"""
WITH {_st20_ver_ctes()}
SELECT doc_id, batch_id, n_tokens, verdict, canonical_asset
FROM ver20 ORDER BY doc_id"""

_ST20_MANIFEST_ORACLE = f"""
WITH {_st20_ver_ctes()},
packed20 AS (
  SELECT batch_id, doc_id, n_tokens,
         CAST(floor(CAST(CAST(SUM(n_tokens) OVER (PARTITION BY batch_id
                            ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                          - n_tokens AS BIGINT) AS DOUBLE)
                    / {_CPm.PACK_BUDGET}) AS BIGINT) AS shard_id
  FROM ver20 WHERE verdict = 'admit'
)
SELECT batch_id, shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id
FROM packed20 GROUP BY 1, 2 ORDER BY 1, 2"""


def _st20_outputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``ST20``'s two-batch unroll, once per (Spark application, sf_dir):
    the verdict and manifest registrations share it."""
    return session_memo(spark, (_st20_outputs, sf_dir), lambda: unroll(spark, sf_dir, ST20))


def _st20_stage(spark: SparkSession, sf_dir: str, state: str):
    """Two real multimodal ingest batches through the composed release
    body (fresh pins + fresh asset index)."""
    docs = load_table(spark, sf_dir, "documents")
    stage = _CPm.split_stage(F.col("doc_id"))
    held = docs.filter(stage >= 1)
    require_pin(pin_mm_release_state(held, _mm3_frame_hashes(held), state), "st20")
    body = lambda batch, b: mm_release_batch(batch, state)
    return halves(_st20_doc_assets(docs.filter(stage == 0)), halving(docs)), body


ST20 = TwoBatch("st20_state_", _st20_stage, drop_mm_release_state)


@register(
    "st20_mm_release_verdicts",
    oracle=_ST20_VERDICTS_ORACLE,
    doc="ST20 multimodal guarded streaming release — the per-doc verdict "
    "relation: st19 containment guard (pinned held text), st18 frame-grab "
    "guard (pinned held video frames), st17 asset admission with cc15's "
    "canonical-keeper resolution; one FINAL row per incoming doc, "
    "precedence contained > frame-grab > dup-asset > admit, guard drops "
    "isolated from the asset index. Two-batch unroll vs a brute-force "
    "oracle (all-pairs screens + unrolled min-label components). Scale: "
    "two pin probes + one pruned-partition index equi-join per batch — "
    "nothing stream-global",
)
def st20_mm_release_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    verdicts, _ = _st20_outputs(spark, sf_dir)
    return verdicts.select(
        "doc_id", "batch_id", "n_tokens", "verdict", "canonical_asset"
    ).orderBy("doc_id").localCheckpoint()


@register(
    "st20_mm_release_manifest",
    oracle=_ST20_MANIFEST_ORACLE,
    doc="ST20 multimodal guarded streaming release — the per-batch DELIVERY "
    "manifest: the batch's admit verdicts (guarded, asset-canonical) packed "
    "into 2048-token shards (pk1's two-level cumsum, shard ids batch-local), "
    "one row per (batch, shard) — what a multimodal training loader pulls "
    "from a streaming ingest. Scale: a filter over the batch's bounded "
    "materialized verdict relation into bucketed cumsum windows",
)
def st20_mm_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    _, manifest = _st20_outputs(spark, sf_dir)
    return manifest.select(
        "batch_id", "shard_id", "n_docs", "total_tokens",
        "first_doc_id", "last_doc_id",
    ).orderBy("batch_id", "shard_id").localCheckpoint()
