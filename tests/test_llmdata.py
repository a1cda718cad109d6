"""LLM-data op tests: dedup semantics, ANN recall, multimodal plumbing."""

import os

import pytest

from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata import multimodal as MM
from pdf_etl_pipeline_spark.llmdata.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_relation,
)
from pdf_etl_pipeline_spark.llmdata.similarity import cosine_topk, hyperplane_lsh_topk
from pdf_etl_pipeline_spark.session import load_table


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "spark engines about completely different content"),  # perm of 3
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(near_dup_docs):
    out = {r.keep_doc_id: r.n_copies for r in exact_dedup(near_dup_docs).collect()}
    assert out[1] == 2  # docs 1 and 4 collapse
    assert out[2] == 1 and out[3] == 1


def test_jaccard_finds_near_dups(near_dup_docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(near_dup_docs, 0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert pairs[(1, 2)] == pytest.approx(round(7 / 9, 6))  # 7 shared of 9 distinct
    assert (3, 5) in pairs  # same token set, different order → jaccard 1.0
    assert pairs[(3, 5)] == 1.0


def test_minhash_lsh_recovers_jaccard_pairs(near_dup_docs):
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(near_dup_docs, 0.5).collect()}
    # exact duplicates and token-permutations must always share all bands
    assert (1, 4) in lsh and (3, 5) in lsh


def test_near_dup_clusters_transitive(spark):
    """A≈B and B≈C must land in ONE cluster even when A≈C is below the
    threshold — the transitive-closure property pair output alone lacks."""
    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs, near_dup_clusters

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " kilo"),          # near-dup of 1 and of 3
            (3, base + " kilo lima mike"),  # near-dup of 2, farther from 1
            (4, "totally unrelated words nothing shared here at all zz yy"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    out = {r.doc_id: (r.cluster_id, r.is_keeper) for r in near_dup_clusters(docs, 0.8).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs
    # 1-2-3 form one component labeled by the min id
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert out[4] == (4, True)


def test_pointer_doubling_beats_plain_propagation_on_chains(spark):
    """On a diameter-11 chain, plain min-label with 3 rounds only reaches 3
    hops, while 3 pointer-doubling rounds converge the whole component —
    the O(log D) vs O(D) separation the star variant exists for."""
    from pdf_etl_pipeline_spark.llmdata.dedup import label_components

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    plain = {
        r.doc_id: r.cluster_id
        for r in label_components(nodes, chain, rounds=3, doubling=False).collect()
    }
    star = {
        r.doc_id: r.cluster_id
        for r in label_components(nodes, chain, rounds=3, doubling=True).collect()
    }
    assert star == {i: 0 for i in range(n)}  # fully converged
    assert plain[n - 1] != 0  # 3 plain rounds cannot reach 11 hops


def test_plain_propagation_converges_past_fixed_rounds(spark):
    """A diameter-9 chain exceeds CLUSTER_ITERS=6, but near_dup_clusters
    (until_converged=True) now iterates to the exact fixed point instead of
    silently under-merging — while the fixed-round mode still stops short
    (the contract the unrolled SQL oracle reproduces)."""
    from pdf_etl_pipeline_spark.llmdata.dedup import CLUSTER_ITERS, label_components

    n = 10  # path 0-1-...-9, diameter 9 > CLUSTER_ITERS
    assert CLUSTER_ITERS < n - 1
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    fixed = {
        r.doc_id: r.cluster_id
        for r in label_components(
            nodes, chain, rounds=CLUSTER_ITERS, doubling=False, until_converged=False
        ).collect()
    }
    conv = {
        r.doc_id: r.cluster_id
        for r in label_components(
            nodes, chain, rounds=CLUSTER_ITERS, doubling=False, until_converged=True
        ).collect()
    }
    assert fixed[n - 1] != 0  # 6 plain rounds cannot reach 9 hops
    assert conv == {i: 0 for i in range(n)}  # exact convergence observed


@pytest.mark.slow
def test_session_memo_key_survives_session_recreation(tmp_path):
    """The catalog memos key on applicationId, not id(spark): create a
    session, warm the shared LSH pair memo and the st20 release memo, stop
    it, create a NEW session and show neither memo serves the dead
    session's entry (fresh compute, same result) and the registry keeps
    only the new application's entries. Runs in a subprocess so stopping
    sessions cannot disturb the suite's shared session."""
    import subprocess
    import sys as _sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        from pdf_etl_pipeline_spark import session
        from pdf_etl_pipeline_spark.catalog import dedup_q, multimodal_q
        from pyspark.sql import SparkSession

        def fresh(name):
            return (SparkSession.builder.master("local[2]").appName(name)
                    .config("spark.ui.enabled", "false")
                    .config("spark.sql.shuffle.partitions", "4").getOrCreate())

        sf = "/root/testdata/sf0.001"
        s1 = fresh("memo1")
        app1 = s1.sparkContext.applicationId
        n1 = dedup_q.shared_pairs(s1, sf, 0.9).count()
        v1 = multimodal_q._st20_outputs(s1, sf)[0]
        m1 = v1.count()
        assert (multimodal_q._st20_outputs, sf) in session._MEMO[app1]
        s1.stop()
        s2 = fresh("memo2")
        app2 = s2.sparkContext.applicationId
        assert app2 != app1, "applicationId must differ"
        n2 = dedup_q.shared_pairs(s2, sf, 0.9).count()
        assert list(session._MEMO) == [app2], "dead application's entries kept"
        assert n1 == n2
        v2 = multimodal_q._st20_outputs(s2, sf)[0]
        assert v2 is not v1, "stale-cache reuse: st20 memo served the dead session"
        assert list(session._MEMO) == [app2]
        assert (multimodal_q._st20_outputs, sf) in session._MEMO[app2]
        assert v2.count() == m1
        s2.stop()
        print("MEMO_OK", n1)
        """
        % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "MEMO_OK" in out.stdout, out.stderr[-2000:]


def test_load_registry_raises_when_a_catalog_module_fails_to_import(monkeypatch):
    """A catalog module that cannot import fails the registry load instead
    of silently dropping its query family from the driver."""
    import sys as _sys

    from pdf_etl_pipeline_spark.catalog import load_registry

    monkeypatch.setitem(_sys.modules, "pdf_etl_pipeline_spark.catalog.windows", None)
    with pytest.raises(ModuleNotFoundError):
        load_registry()


def test_knn_join_salting_identical_and_bounded(spark):
    """ss5 skew lever: plant a dense cluster (one hot sign-bucket), run
    knn_join with and without the bucket cap — results must be identical
    (salting re-partitions work, never candidates) and the salted probe-side
    groups must each hold ≤ cap rows."""
    import numpy as np

    from pdf_etl_pipeline_spark.llmdata.similarity import DIM, bucket_key, knn_join

    rng = np.random.default_rng(7)
    rows = []
    base = np.ones(DIM)
    for i in range(90):  # dense cluster: tiny per-index perturbation
        v = base.copy()
        v[i % DIM] += 0.01 * (i + 1)
        rows.append((i, [float(x) for x in v]))
    for i in range(90, 130):  # background vectors spread across buckets
        rows.append((i, [float(x) for x in rng.normal(size=DIM)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cap = 16
    wb = emb.select("vec_id", bucket_key(F.col("embedding")).alias("bucket"))
    sizes = {r.bucket: r.cnt for r in wb.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    assert max(sizes.values()) > cap  # the lever actually engages

    plain = sorted(map(tuple, knn_join(emb, k=3).collect()))
    salted = sorted(map(tuple, knn_join(emb, k=3, bucket_cap=cap).collect()))
    assert plain == salted  # bit-identical output

    # probe-side (bucket, salt) group sizes are bounded: mirror the
    # implementation's salt assignment (portable md5 hash of vec_id mod
    # n_salt) and check no salt group in a hot bucket exceeds ~cap
    import collections
    import hashlib

    hot = {b: int(np.ceil(c / cap)) for b, c in sizes.items() if c > cap}
    probe = wb.filter(F.col("bucket").isin(list(hot))).collect()
    for b, n_salt in hot.items():
        groups = collections.Counter()
        for r in probe:
            if r.bucket == b:
                hv = int(hashlib.md5(str(r.vec_id).encode()).hexdigest()[:8], 16)
                groups[hv % n_salt] += 1
        assert len(groups) == n_salt  # every salt group populated
        assert max(groups.values()) <= cap + cap // 2  # hash-balance slack


@pytest.mark.slow
def test_star_clusters_match_plain_on_corpus(spark, sf_dir):
    """Both variants must land on the same fixed point (exact components)
    on the real corpus."""
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters, near_dup_clusters_star
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {(r.doc_id, r.cluster_id) for r in near_dup_clusters(docs).collect()}
    b = {(r.doc_id, r.cluster_id) for r in near_dup_clusters_star(docs).collect()}
    assert a == b


def test_simhash_identical_for_same_token_set(near_dup_docs):
    sh = {r.doc_id: r.simhash for r in simhash_relation(near_dup_docs).collect()}
    assert sh[1] == sh[4]
    assert sh[3] == sh[5]
    assert sh[1] != sh[3]


def test_lsh_topk_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, [0, 1], k=5).collect()
    lsh = hyperplane_lsh_topk(emb, [0, 1], k=5).collect()
    exact_rank1 = {(r.query_id, r.cand_id) for r in exact if r.rank == 1}
    lsh_pairs = {(r.query_id, r.cand_id): r.cosine for r in lsh}
    # every LSH hit's cosine matches the exact computation for that pair
    exact_cos = {(r.query_id, r.cand_id): r.cosine for r in exact}
    for k_, v in lsh_pairs.items():
        if k_ in exact_cos:
            assert v == exact_cos[k_]
    assert len(lsh) <= len(exact)
    assert exact_rank1  # sanity


@pytest.mark.slow
def test_embedding_lsh_pairs_vs_brute(spark, sf_dir):
    """Banded sign-LSH near-dup pairs (the dd5 scale path) vs the brute
    all-pairs verifier (test-only baseline): no false positives — every LSH
    pair is a brute pair with the identical cosine — and ≥99.5% recall on
    the planted near-identical twins. Recall is deliberately not asserted
    at 100%: 16-plane bands buy a ~25× lower background candidate rate
    (SCALE.md scale curve) at a measured 1-in-500 twin miss on sf0.001 —
    the banding tradeoff working as designed, and the DuckDB oracle misses
    the identical pair, so the gate is unaffected."""
    from pdf_etl_pipeline_spark.catalog.dedup_q import _TWIN_OFFSET, _augmented_embeddings
    from pdf_etl_pipeline_spark.llmdata.dedup import embedding_dup_pairs
    from pdf_etl_pipeline_spark.llmdata.similarity import embedding_dup_pairs_lsh

    aug = _augmented_embeddings(spark, sf_dir)
    brute = {(r.id_a, r.id_b): r.cosine for r in embedding_dup_pairs(aug, 0.9).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine for r in embedding_dup_pairs_lsh(aug, 0.9).collect()}
    assert lsh, "planted twins must produce pairs"
    for pair, cos in lsh.items():
        assert brute[pair] == cos  # subset with identical arithmetic
    n = aug.count() // 2
    twins = {p for p in brute if p[1] == p[0] + _TWIN_OFFSET}
    assert len(twins) == n  # every vector's twin is a genuine near-dup
    assert len(twins & set(lsh)) >= 0.995 * n  # banding recovers ≥99.5%


def test_twin_offset_cannot_collide(spark):
    """The dd5 twin augmentation offsets ids by _TWIN_OFFSET; a corpus with
    vec_id >= _TWIN_OFFSET would alias a twin onto a real vector. Guard the
    invariant at every test scale factor (real corpora would need the
    offset raised — the oracle interpolates the same constant, so it is a
    one-line change in catalog/dedup_q.py)."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.catalog.dedup_q import _TWIN_OFFSET
    from pdf_etl_pipeline_spark.session import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        mx = load_table(spark, sf, "embeddings").agg(F2.max("vec_id")).first()[0]
        assert mx < _TWIN_OFFSET


@pytest.mark.slow
def test_ivf_learned_centroids_beat_fixed_recall(spark, sf_dir):
    """Learned (k-means) IVF cells must give better nprobe=1 recall@5 than
    the fixed id-subset baseline, measured against exact top-5 on queries
    that are NOT fixed centroids (centroid-queries trivially recall their
    own cell). Pins recall so perf tuning can't silently degrade it."""
    from pdf_etl_pipeline_spark.llmdata.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(200, 240))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, qids, k=5).collect()}
    learned = {(r.query_id, r.cand_id) for r in ivf_topk(emb, qids, k=5, learned=True).collect()}
    fixed = {(r.query_id, r.cand_id) for r in ivf_topk(emb, qids, k=5, learned=False).collect()}
    recall_learned = len(exact & learned) / len(exact)
    recall_fixed = len(exact & fixed) / len(exact)
    assert recall_learned > recall_fixed
    assert recall_learned >= 0.2  # floor: well above the 1/16 random-cell baseline


@pytest.mark.slow
def test_kmeans_centroids_deterministic(spark, sf_dir):
    """Two independent runs produce identical centroids (hash-seeded init +
    decimal-exact means — no partition-order dependence)."""
    from pdf_etl_pipeline_spark.llmdata.similarity import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = {r.cell_id: r.centroid for r in kmeans_centroids(emb).collect()}
    c2 = {r.cell_id: r.centroid for r in kmeans_centroids(emb).collect()}
    assert c1 == c2
    assert len(c1) == 16


def test_multimodal_feature_plumbing(spark):
    assets = MM.synthetic_assets(spark, n=16)
    feats = MM.extract_features(assets).collect()
    assert len(feats) == 16
    assert all(f.feat_dim == 8 and len(f.feature) == 8 for f in feats)
    # deterministic: same asset → same feature
    again = MM.extract_features(MM.synthetic_assets(spark, n=16)).collect()
    assert [f.feature for f in feats] == [f.feature for f in again]


def test_multimodal_real_decode_unknown_codec_raises():
    # only external-library codecs are still gated (audio/video now that
    # baseline JPEG decodes in-repo); dispatch is per-row
    with pytest.raises(NotImplementedError):
        MM._decode(b"\x00\x00\x00\x18ftypmp42", {"codec": "mp4"}, "real")


def _minimal_gray_jpeg(dc: int) -> bytes:
    """Hand-assembled 8x8 single-component baseline JPEG whose only block
    carries DC coefficient ``dc`` (identity quant table, AC all zero) —
    decoded pixels must be exactly dc/8 + 128."""
    import struct

    cat = dc.bit_length()  # dc > 0: category = bit length
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + bytes([1] * 64)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
    # one length-2 code ("00") in each table: DC symbol = category, AC = EOB
    counts = bytes([0, 1] + [0] * 14)
    dht_dc = b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 1) + b"\x00" + counts + bytes([cat])
    dht_ac = b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 1) + b"\x10" + counts + bytes([0x00])
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    bits = "00" + format(dc, f"0{cat}b") + "00"  # DC code + magnitude + EOB
    bits += "1" * (-len(bits) % 8)
    scan = int(bits, 2).to_bytes(len(bits) // 8, "big").replace(b"\xff", b"\xff\x00")
    return b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + scan + b"\xff\xd9"


def test_jpeg_decode_exact_dc_block():
    """The baseline JPEG decoder reconstructs a known DC-only block to the
    exact pixel value (identity quant, orthonormal IDCT: flat = DC/8+128)."""
    import numpy as np

    for dc in (256, 8, 504):  # 160, 129, 191 gray levels
        img = MM._decode_jpeg(_minimal_gray_jpeg(dc))
        assert img.shape == (8, 8)
        expect = (dc / 8 + 128) / 255.0
        assert np.allclose(img, expect, atol=1e-6), (dc, img[0, 0], expect)


def test_wav_roundtrip_and_audio_features(spark):
    """Real audio path: RIFF/WAVE PCM round-trips within quantization, a
    stereo file channel-means to mono, and the Spark feature op reports
    per-window RMS energy that tracks the planted loud/quiet structure."""
    import struct

    import numpy as np

    t = np.arange(16000, dtype=np.float32) / 16000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    for bits, tol in ((16, 1.0 / 32000), (8, 1.0 / 120)):
        y = MM._decode_wav(MM.encode_wav(x, 16000, bits=bits))
        assert y.shape == x.shape
        assert np.abs(y - x).max() < tol
    # stereo: L = 2R — decoded mono must be the channel mean
    left = (np.clip(0.5 * np.ones(100), -1, 1) * 32767).astype("<i2")
    right = (np.clip(0.25 * np.ones(100), -1, 1) * 32767).astype("<i2")
    inter = np.empty(200, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    fmt = struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", inter.nbytes) + inter.tobytes()
    stereo = b"RIFF" + struct.pack("<I", len(body)) + body
    m = MM._decode_wav(stereo)
    assert np.allclose(m, 0.375, atol=1e-3)

    # loud first half, silent second half → first 4 windows energetic,
    # last 4 near zero, through the Spark mapInPandas path
    sig = np.concatenate([0.8 * np.sin(2 * np.pi * 220 * t[:8000]), np.zeros(8000, np.float32)])
    assets = spark.createDataFrame(
        [(0, "audio", MM.encode_wav(sig, 16000), (0, 0, 16000, 1, "wav"))], MM.ASSET_SCHEMA
    )
    (f,) = MM.extract_audio_features(assets, decode="real").collect()
    assert f.feat_dim == 8
    assert all(v > 0.3 for v in f.feature[:4])
    assert all(v < 0.01 for v in f.feature[4:])
    with pytest.raises(Exception):
        MM.extract_audio_features(
            spark.createDataFrame(
                [(0, "audio", b"ID3\x04", (0, 0, 44100, 1, "mp3"))], MM.ASSET_SCHEMA
            ),
            decode="real",
        ).collect()


def test_avi_mjpeg_real_frame_sampling(spark):
    """Real video path: an MJPEG AVI assembled from known DC-only JPEG
    frames; sample_frames(decode="real") must emit every_n-th frame as
    actual JPEG bytes whose decoded gray level matches the plant."""
    import numpy as np

    dcs = [64 + 32 * i for i in range(8)]  # 8 frames, distinct gray levels
    frames = [_minimal_gray_jpeg(dc) for dc in dcs]
    avi = MM.encode_avi_mjpeg(frames, width=8, height=8, fps=4)
    assert MM._avi_mjpeg_frames(avi) == frames  # container round-trip

    assets = spark.createDataFrame(
        [(7, "video", avi, (8, 8, 0, len(frames), "avi"))], MM.ASSET_SCHEMA
    )
    out = sorted(
        MM.sample_frames(assets, every_n=3, decode="real").collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in out] == [0, 3, 6]
    for r in out:
        img = MM._decode_jpeg(bytes(r.frame))
        expect = (dcs[r.frame_idx] / 8 + 128) / 255.0
        assert np.allclose(img, expect, atol=1e-6)
    with pytest.raises(Exception):
        MM.sample_frames(
            spark.createDataFrame(
                [(0, "video", b"\x00\x00\x00\x18ftypmp42", (8, 8, 0, 4, "mp4"))],
                MM.ASSET_SCHEMA,
            ),
            decode="real",
        ).collect()


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/data/company-A/raw"),
    reason="reference corpus not mounted",
)
def test_jpeg_real_receipts_features_and_phash(spark):
    """mm1/mm2 on the reference's OWN receipt scans (baseline JPEG,
    2x2-subsampled luma): decode -> 8-dim features and perceptual hashes
    through the full Spark mapInPandas path. Receipts are white paper —
    mean luma must be high and structure (std) nonzero."""
    import glob

    paths = sorted(glob.glob("/root/reference/data/company-A/raw/*.jpg"))
    assert len(paths) >= 2
    rows = [
        (i, "image", open(p, "rb").read(), (0, 0, 0, 1, "jpg"))
        for i, p in enumerate(paths)
    ]
    assets = spark.createDataFrame(rows, MM.ASSET_SCHEMA)
    feats = MM.extract_features(assets, decode="real").collect()
    assert len(feats) == len(paths)
    for f in feats:
        assert f.feat_dim == 8 and len(f.feature) == 8
        assert all(0.0 <= v <= 1.0 for v in f.feature)
        # paper-white dominates the top rows of both scans
        assert sum(f.feature) / 8 > 0.4
    ph = MM.perceptual_hash(assets, decode="real").collect()
    assert len(ph) == len(paths)
    # two different receipts must not collide
    assert ph[0].phash != ph[1].phash


def test_bmp_ppm_roundtrip_exact():
    """Pure-numpy encoders/decoders invert each other bit-exactly."""
    import numpy as np

    img = ((np.arange(9 * 12).reshape(9, 12) * 7) % 251).astype(np.uint8)
    for enc, dec in ((MM.encode_bmp, MM._decode_bmp), (MM.encode_ppm, MM._decode_ppm)):
        out = dec(enc(img))
        assert out.shape == (9, 12)
        assert np.allclose(out * 255.0, img.astype(np.float32))


def test_png_roundtrip_all_filters():
    """PNG round-trips bit-exactly whether scanlines are written with
    filter 0 only or cycling through all five filter types — i.e. the
    decoder's Sub/Up/Average/Paeth unfilter paths are each exercised
    (a 9-row image covers every filter at least once)."""
    import numpy as np

    img = ((np.arange(9 * 12).reshape(9, 12) * 13 + 5) % 251).astype(np.uint8)
    for filters in ("none", "cycle"):
        out = MM._decode_png(MM.encode_png(img, filters=filters))
        assert out.shape == (9, 12)
        assert np.allclose(out * 255.0, img.astype(np.float32))
    with pytest.raises(ValueError):
        MM._decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")


def test_multimodal_real_decode_bmp_ppm(spark):
    """extract_features(decode="real") runs end-to-end on real encoded
    bytes; BMP and PPM encodings of the same pixels give identical
    features (codec-independence of the decode path)."""
    fb = MM.extract_features(
        MM.synthetic_real_assets(spark, n=6, codec="bmp"), decode="real"
    ).collect()
    fp = MM.extract_features(
        MM.synthetic_real_assets(spark, n=6, codec="ppm"), decode="real"
    ).collect()
    fg = MM.extract_features(
        MM.synthetic_real_assets(spark, n=6, codec="png"), decode="real"
    ).collect()
    assert len(fb) == len(fp) == len(fg) == 6
    assert all(f.feat_dim == 8 and len(f.feature) == 8 for f in fb)
    assert (
        [f.feature for f in sorted(fb, key=lambda r: r.asset_id)]
        == [f.feature for f in sorted(fp, key=lambda r: r.asset_id)]
        == [f.feature for f in sorted(fg, key=lambda r: r.asset_id)]
    )
    thumbs = MM.resize_thumbnails(
        MM.synthetic_real_assets(spark, n=4, codec="bmp"), width=8, height=6, decode="real"
    ).collect()
    assert all(len(bytes(t.thumb)) == 8 * 6 for t in thumbs)


def test_multimodal_thumbnails_and_frames(spark):
    assets = MM.synthetic_assets(spark, n=4)
    thumbs = MM.resize_thumbnails(assets, width=8, height=6).collect()
    assert all(len(bytes(t.thumb)) == 8 * 6 for t in thumbs)
    frames = MM.sample_frames(assets, every_n=4).collect()
    assert len(frames) == 4 * 4  # 16 frames / every 4 → 4 per asset
    assert {f.frame_idx for f in frames} == {0, 4, 8, 12}


def test_metadata_projection_prunes_blob(spark, tmp_path):
    # write assets as parquet, read back, project metadata only — the scan
    # must not include the binary column (column pruning)
    p = str(tmp_path / "assets")
    MM.synthetic_assets(spark, n=8).write.parquet(p)
    assets = spark.read.parquet(p)
    plan = MM.metadata_only_projection(assets)._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_corpus_curation_invariants(spark, sf_dir):
    from pdf_etl_pipeline_spark.llmdata.curation import curate_corpus
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = curate_corpus(docs).collect()
    n_docs = docs.count()
    assert 0 < len(out) < n_docs  # filters actually bite
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids))  # no duplicates survive
    assert all(r.quality_score >= 0.5 for r in out)


@pytest.mark.slow
def test_cluster_curation_subset_of_pair_curation(spark, sf_dir):
    """Pair-loser removal drops every doc_b (which is always a non-keeper in
    its component, since the component label <= doc_a < doc_b), so the
    cluster-curated corpus is a subset of the pair-curated one — transitive
    closure only removes MORE."""
    from pdf_etl_pipeline_spark.llmdata.curation import curate_corpus, curate_corpus_clustered
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    pair_ids = {r.doc_id for r in curate_corpus(docs).collect()}
    cluster_ids = {r.doc_id for r in curate_corpus_clustered(docs).collect()}
    assert cluster_ids <= pair_ids
    assert len(cluster_ids) > 0


def test_minhash_array_and_agg_forms_agree(spark, near_dup_docs):
    """The didactic array-expression signature and the production
    explode+groupBy form must produce identical signatures."""
    from pyspark.sql import functions as F
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        NUM_PERM,
        minhash_signature,
        minhash_signatures_agg,
    )

    arr = {
        r.doc_id: list(r.sig)
        for r in near_dup_docs.select("doc_id", minhash_signature("text").alias("sig")).collect()
    }
    agg = {
        r.doc_id: [r[f"s{i}"] for i in range(NUM_PERM)]
        for r in minhash_signatures_agg(near_dup_docs).collect()
    }
    assert arr == agg


def test_simhash_array_and_agg_forms_agree(spark, near_dup_docs):
    from pdf_etl_pipeline_spark.llmdata.dedup import simhash32, simhash_relation

    arr = {
        r.doc_id: r.sh
        for r in near_dup_docs.select("doc_id", simhash32("text").alias("sh")).collect()
    }
    agg = {r.doc_id: r.simhash for r in simhash_relation(near_dup_docs).collect()}
    assert arr == agg


@pytest.mark.slow
def test_full_curation_subset_of_cluster_curation(spark, sf_dir):
    """cc4 only ADDS exclusions (repetition, benchmark, contamination) on
    top of cc2, so its survivors are a strict subset on this corpus."""
    from pdf_etl_pipeline_spark.llmdata.curation import (
        curate_corpus_clustered,
        curate_corpus_full,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    c2 = {r.doc_id for r in curate_corpus_clustered(docs).collect()}
    c4 = {r.doc_id for r in curate_corpus_full(docs).collect()}
    assert c4 <= c2
    assert len(c4) > 0


@pytest.mark.slow
def test_pq_adc_recall_beats_random(spark, sf_dir):
    """ss6 sanity: PQ-ADC top-5 with 8 codes/vector must (a) be
    deterministic across runs and (b) recall a meaningful fraction of the
    exact cosine top-5 — far above the random-5 baseline — despite 32×
    compression. Also pins that the approximation orders obvious pairs:
    a vector's own code-identical twin scores at the top."""
    from pdf_etl_pipeline_spark.llmdata.similarity import cosine_topk, pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(100, 130))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(emb, qids, k=5).collect()}
    pq1 = [(r.query_id, r.cand_id, r.adc_score) for r in pq_adc_topk(emb, qids, k=5).collect()]
    pq2 = [(r.query_id, r.cand_id, r.adc_score) for r in pq_adc_topk(emb, qids, k=5).collect()]
    assert pq1 == pq2  # deterministic codebooks + decimal-exact scoring
    got = {(q, c) for q, c, _ in pq1}
    recall = len(exact & got) / len(exact)
    n = emb.count()
    random_recall = 5 / (n - 1)
    assert recall >= max(0.1, 10 * random_recall)


@pytest.mark.slow
def test_pq_rerank_full_shortlist_equals_exact(spark, sf_dir):
    """ss7 invariant: with a corpus-deep shortlist the ADC stage filters
    nothing, so the exact-cosine rerank must reproduce the brute top-k
    bit-for-bit — and a 25-deep shortlist must recall at least what raw
    ADC@5 does (rerank can only fix the compressed ordering, not lose
    true neighbors the shortlist already contains)."""
    from pdf_etl_pipeline_spark.llmdata.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(100, 110))
    n = emb.count()
    exact = [tuple(r) for r in cosine_topk(emb, qids, k=5).collect()]
    full = [tuple(r) for r in pq_rerank_topk(emb, qids, k=5, shortlist=n).collect()]
    assert full == exact

    exact_set = {(r[0], r[1]) for r in exact}
    adc5 = {(r.query_id, r.cand_id) for r in pq_adc_topk(emb, qids, k=5).collect()}
    rr25 = {(r.query_id, r.cand_id) for r in pq_rerank_topk(emb, qids, k=5, shortlist=25).collect()}
    assert len(exact_set & rr25) >= len(exact_set & adc5)


def test_perceptual_hash_dedup_real_png(spark):
    """mm2: aHash over REAL PNG decode — an image and its lightly-noised
    copy pair up within Hamming 3; a structurally different image does
    not; banding finds exactly the brute-force Hamming pairs."""
    import numpy as np

    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        ASSET_SCHEMA,
        encode_png,
        perceptual_hash,
        phash_dup_pairs,
    )

    h, w = 24, 32
    base = ((np.arange(h)[:, None] * 8 + np.arange(w)[None, :]) % 251).astype(np.uint8)
    noisy = base.copy()
    noisy[::7, ::9] = np.minimum(noisy[::7, ::9] + 2, 250)  # sub-threshold noise
    inverted = (250 - base).astype(np.uint8)  # structurally opposite
    checker = (((np.arange(h)[:, None] // 3 + np.arange(w)[None, :] // 4) % 2) * 255).astype(np.uint8)
    rows = [
        (1, "image", encode_png(img), (w, h, 0, 1, "png"))
        for img in (base,)
    ]
    rows += [(2, "image", encode_png(noisy), (w, h, 0, 1, "png"))]
    rows += [(3, "image", encode_png(inverted), (w, h, 0, 1, "png"))]
    rows += [(4, "image", encode_png(checker), (w, h, 0, 1, "png"))]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    hashes = perceptual_hash(assets, decode="real")
    pairs = {(r.asset_a, r.asset_b): r.hamming for r in phash_dup_pairs(hashes).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert all((3 not in p) or p == (3,) for p in pairs)  # inverted never pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # banding == brute force on this set (exactness of the pigeonhole)
    hs = {r.asset_id: r.phash & ((1 << 64) - 1) for r in hashes.collect()}
    brute = {
        (a, b)
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    assert set(pairs) == brute


def test_dup_span_stats_cross_doc_only(spark):
    """dd8: spans duplicated ACROSS documents are flagged; a phrase
    repeated only WITHIN one document is not (cross-doc definition);
    fully unique docs report zero."""
    from pdf_etl_pipeline_spark.llmdata.dedup import dup_span_stats

    shared = "the quick brown fox jumps over the lazy sleeping dog tonight again"
    internal = "one two three four five six seven eight nine ten " * 2  # repeats itself
    unique = "completely different words appear in this standalone document here now truly"
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta"),
            (2, "prefix words " + shared),
            (3, internal),
            (4, unique),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_stats(docs, n=10).collect()}
    # docs 1 and 2 share an 12-token run -> >= 3 duplicated 10-windows each
    assert out[1].n_dup_spans >= 3 and out[2].n_dup_spans >= 3
    assert 0 < out[1].dup_frac <= 1.0
    # internal repetition is not cross-doc duplication
    assert out[3].n_dup_spans == 0
    assert out[4].n_dup_spans == 0 and out[4].n_spans > 0


def test_banded_pairs_hot_band_degeneracy_collapses(spark):
    """r12 VERDICT finding 2: a degenerate constant hash (black frames,
    digital silence) must NOT make the band self-join quadratic. The band
    join runs over DISTINCT hash values, so the candidate relation is the
    same whether the constant hash appears once or sixty times, while the
    returned pair set (after the output-bounded expansion) is
    bit-identical to brute force — including the pile's Hamming-0
    pairs."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        _distinct_hash_band_pairs,
        phash_dup_pairs,
    )

    def to_i64(u):  # store as signed 64-bit like the hash extractors do
        return u - (1 << 64) if u >= (1 << 63) else u

    base = 0xDEADBEEFCAFE1234
    near = base ^ 0b101  # hamming 2 from base
    far = 0x0123456789ABCDEF
    pile = 0xFFFFFFFFFFFFFFFF  # the degenerate constant (e.g. all-black)

    def mk(m):
        rows = [(i, to_i64(pile)) for i in range(m)]
        rows += [(1000, to_i64(base)), (1001, to_i64(near)), (1002, to_i64(far))]
        return spark.createDataFrame(rows, "asset_id long, phash long")

    small, big = mk(2), mk(60)
    # the banding candidate relation is DUPLICATE-MULTIPLICITY-INVARIANT:
    # 60 identical hashes contribute exactly what 2 do
    n_small = _distinct_hash_band_pairs(small, "phash").count()
    n_big = _distinct_hash_band_pairs(big, "phash").count()
    assert n_big == n_small
    # per-asset banding would have floored at C(60,2)=1770 candidates for
    # the pile alone; the distinct-hash relation stays at the diversity
    # bound (4 distinct hashes -> at most C(4,2)=6 candidates)
    assert n_big <= 6

    # the returned pair set is still EXACTLY brute force
    got = {(r.asset_a, r.asset_b): r.hamming for r in phash_dup_pairs(big).collect()}
    hs = {r.asset_id: r.phash & ((1 << 64) - 1) for r in big.collect()}
    brute = {
        (a, b): bin(hs[a] ^ hs[b]).count("1")
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    assert got == brute
    assert len([1 for (a, b) in got if got[(a, b)] == 0]) == 60 * 59 // 2
    assert got[(1000, 1001)] == 2


def test_hot_band_recursion_is_exact_and_collapses_candidates(spark):
    """The residual hot-band case: many DISTINCT hashes agreeing on one
    16-bit band (structured corpora — shared headers, letterbox rows).
    Buckets over HOT_BAND_CAP re-band the remaining 48 bits into 12-bit
    sub-bands (recursive pigeonhole): the candidate relation collapses
    from n²/2 per hot bucket to the sub-bucket sum while the pair set
    stays EXACTLY brute force — forced here by comparing hot_cap=8
    (recursion) against hot_cap=10**9 (direct join) against brute
    force."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        _banded_hash_pairs,
        _distinct_hash_band_pairs,
    )

    band0 = 0x1234  # every hash agrees on band 0 -> one 42-member bucket
    rows, uppers = [], set()
    for k in range(20):
        u = (k * 0x9E3779B97F4A7C) & ((1 << 47) - 1)  # distinct, spread
        uppers.add(u)
        uppers.add(u ^ (1 << 21))  # a Hamming-1 twin (upper bits only)
    for i, u in enumerate(sorted(uppers)):
        rows.append((i, (u << 16) | band0))
    hashes = spark.createDataFrame(rows, "asset_id long, phash long")

    n_direct = _distinct_hash_band_pairs(hashes, "phash", hot_cap=10**9).count()
    n_recursed = _distinct_hash_band_pairs(hashes, "phash", hot_cap=8).count()
    assert n_direct == len(rows) * (len(rows) - 1) // 2  # the quadratic bucket
    assert n_recursed < n_direct / 4  # recursion genuinely prunes

    hs = {r.asset_id: r.phash & ((1 << 64) - 1) for r in hashes.collect()}
    brute = {
        (a, b): bin(hs[a] ^ hs[b]).count("1")
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    assert brute  # the planted twins exist
    got = {(r.asset_a, r.asset_b): r.hamming for r in _banded_hash_pairs(hashes, "phash", 3).collect()}
    assert got == brute


def test_remaining48_strips_each_band(spark):
    """_remaining48 removes exactly the 16 bits of the named band —
    including the TOP band, where a naive shiftrightunsigned(h, 64) is a
    JVM mod-64 no-op and would corrupt the sub-banding space."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.multimodal import _remaining48

    h = 0x0123_4567_89AB_CDEF
    df = spark.createDataFrame([(h, i) for i in range(4)], "h long, band_idx int")
    got = {
        r.band_idx: r.r
        for r in df.select(
            "band_idx", _remaining48(F2.col("h"), F2.col("band_idx")).alias("r")
        ).collect()
    }
    want = {
        0: 0x0123_4567_89AB,          # drop bits [0,16)
        1: 0x0123_4567_CDEF,          # drop bits [16,32)
        2: 0x0123_89AB_CDEF,          # drop bits [32,48)
        3: 0x4567_89AB_CDEF,          # drop bits [48,64) — the mod-64 trap
    }
    assert got == want


def test_video_dup_pairs_black_frame_degeneracy(spark):
    """The video twin of the hot-band guard: many videos sharing a
    constant black-frame hash collapse to one banding row per distinct
    hash; the rolled-up pair relation still matches brute force."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        _distinct_hash_band_pairs,
        video_dup_pairs,
    )

    black = -1  # all-ones 64-bit as signed
    rows = []
    # 12 videos, 4 frames each: frames 0-2 are "black", frame 3 is unique
    # per video (far apart in Hamming) so only the black frames match
    for v in range(12):
        for f in range(3):
            rows.append((v, f, black))
        rows.append((v, 3, (v + 1) * 0x1111111111111111 - (1 << 63)))
    fh = spark.createDataFrame(rows, "asset_id long, frame_idx int, fhash long")

    # 13 distinct hashes total; candidates bounded by diversity, not by
    # the 36 black frames
    assert _distinct_hash_band_pairs(fh, "fhash").count() <= 13 * 12 // 2

    got = {
        (r.asset_a, r.asset_b): (r.n_matched_a, r.n_matched_b, r.match_frac)
        for r in video_dup_pairs(fh, min_match_frac=0.0).collect()
    }
    # every video pair shares exactly its 3 black frames; containment 3/4
    assert len(got) == 12 * 11 // 2
    assert all(v == (3, 3, 0.75) for v in got.values())


def test_mm_catalog_queries_hand_computed(spark):
    """mm1/mm2/mm3: the registered synthetic-hash relations have a fully
    hand-computable pair structure (doc_ids are contiguous from 0 at
    every SF, so groups are complete except possibly the tail):

    - mm1 groups of 4, perturbs [0,0,3,127] -> per group exactly
      (m0,m1)@H0, (m0,m2)@H2, (m1,m2)@H2; member 3 at H7 never pairs.
    - mm2 groups of 5, perturbs [0,1,6,96,255] -> hammings
      {(0,1):1,(0,2):2,(0,3):2,(1,2):3,(1,3):3}; member 4 never pairs.
    - mm3 scenes of two 4-frame videos -> every scene pair matches
      frames {0,1,2} and reads containment 3/4."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    sf = "/root/testdata/sf0.001"
    reg = load_registry()

    mm1 = {(r.asset_a, r.asset_b): r.hamming for r in reg["mm1_phash_pairs"].fn(spark, sf).collect()}
    n_docs = 500
    want1 = {}
    for g in range(n_docs // 4):
        b = 4 * g
        want1.update({(b, b + 1): 0, (b, b + 2): 2, (b + 1, b + 2): 2})
    assert mm1 == want1

    mm2 = {(r.asset_a, r.asset_b): r.hamming for r in reg["mm2_audio_pairs"].fn(spark, sf).collect()}
    want2 = {}
    for g in range(n_docs // 5):
        b = 5 * g
        want2.update(
            {(b, b + 1): 1, (b, b + 2): 2, (b, b + 3): 2, (b + 1, b + 2): 3, (b + 1, b + 3): 3}
        )
    assert mm2 == want2

    mm3 = {
        (r.asset_a, r.asset_b): (r.n_frames_a, r.n_frames_b, r.n_matched_a, r.n_matched_b, r.match_frac)
        for r in reg["mm3_video_pairs"].fn(spark, sf).collect()
    }
    n_videos = n_docs // 4
    want3 = {
        (2 * s, 2 * s + 1): (4, 4, 3, 3, 0.75) for s in range(n_videos // 2)
    }
    assert mm3 == want3


def test_mm4_image_in_video_hand_computed(spark):
    """mm4's cross-modal containment on the synthetic relations is fully
    hand-computable: an image targets its doc_id's mm3 scene/frame base —
    doc_id % 3 == 0 images hit the even video at H0 and the odd video at
    that frame's perturbation distance (frame 3 prunes at H8); % 3 == 1
    images sit 1 bit off (odd-video frame 3 prunes at H7); % 3 == 2
    images (H8 from everything) never match. Exactly one frame matches
    per (image, video), so n_matched_frames == 1 and match_frac == 1/4
    everywhere (complete videos)."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    sf = "/root/testdata/sf0.001"
    got = {
        (r.asset_img, r.asset_vid): (
            r.n_matched_frames, r.n_frames, r.match_frac, r.best_hamming
        )
        for r in load_registry()["mm4_image_in_video"].fn(spark, sf).collect()
    }
    n_docs, odd_pert_pc = 500, {0: 1, 1: 0, 2: 3, 3: 8}
    img_pc = {0: 0, 1: 1, 2: 8}  # popcount of the image perturbation
    want = {}
    for i in range(n_docs):
        s, f, m = i // 8, i % 4, i % 3
        pert = {0: 0, 1: 2, 2: 0xF0F}[m]
        for vid, h in ((2 * s, bin(pert).count("1")),
                       (2 * s + 1, bin(pert ^ {0: 1, 1: 0, 2: 7, 3: 255}[f]).count("1"))):
            if h <= 3 and vid < n_docs // 4:
                want[(i, vid)] = (1, 4, 0.25, h)
    assert got == want
    # sanity on the planted structure itself
    assert (0, 0) in want and want[(0, 0)][3] == 0  # exact frame grab
    assert all((i, v) not in want for i in range(2, n_docs, 3) for v in (i // 8 * 2,))


def test_mm4_bipartite_hot_band_recursion_exact_and_collapses(spark):
    """r13 VERDICT finding 2: the BIPARTITE banding (mm4) must carry the
    same residual-hot-band guard as the unary path. Plant a letterbox:
    many DISTINCT image hashes AND many DISTINCT frame hashes all share
    band 0's value, so the direct bipartite band join is |I|×|F| inside
    that bucket. With the recursion (small hot_cap) the candidate
    relation collapses to the sub-bucket sum while image_in_video_pairs
    stays bit-identical to brute force — including the planted Hamming-0
    frame grab and Hamming≤3 near-grabs."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        _bipartite_distinct_band_pairs,
        image_in_video_pairs,
    )

    band0 = 0x00B7  # the shared letterbox band (band_idx 0)
    img_rows, frame_rows = [], []
    for k in range(40):
        u = (k * 0xA5F1_52D9_437B) & ((1 << 47) - 1)  # distinct upper bits
        img_rows.append((k, (u << 16) | band0))
    for k in range(40):
        u = ((k * 0x51ED_2709_8AC5) | (1 << 46)) & ((1 << 47) - 1)
        frame_rows.append((1000 + k // 4, k % 4, (u << 16) | band0))
    # planted matches: image 0's hash appears as video 1000 frame 0
    # (Hamming 0) and, 2 bits perturbed in the upper space, as video
    # 1009 frame 3 (Hamming 2)
    frame_rows[0] = (1000, 0, img_rows[0][1])
    frame_rows[39] = (1009, 3, img_rows[0][1] ^ (0b101 << 30))
    imgs = spark.createDataFrame(img_rows, "asset_id long, phash long")
    frames = spark.createDataFrame(frame_rows, "asset_id long, frame_idx int, fhash long")

    direct_df = _bipartite_distinct_band_pairs(imgs, "phash", frames, "fhash", hot_cap=10**9)
    recursed_df = _bipartite_distinct_band_pairs(imgs, "phash", frames, "fhash", hot_cap=4)
    n_direct, n_recursed = direct_df.count(), recursed_df.count()
    assert n_direct == 40 * 40  # the full bipartite cross product of the letterbox bucket
    assert n_recursed < n_direct / 4  # recursion genuinely prunes

    def qualifying(df):
        return {
            (r.hl, r.hr)
            for r in df.collect()
            if bin((r.hl ^ r.hr) & ((1 << 64) - 1)).count("1") <= 3
        }

    # the recursed candidates contain every qualifying pair the direct join finds
    assert qualifying(recursed_df) == qualifying(direct_df)

    got = {
        (r.asset_img, r.asset_vid): (r.n_matched_frames, r.n_frames, r.best_hamming)
        for r in image_in_video_pairs(imgs, frames).collect()
    }
    ih = {r.asset_id: r.phash & ((1 << 64) - 1) for r in imgs.collect()}
    fh = [(r.asset_id, r.fhash & ((1 << 64) - 1)) for r in frames.collect()]
    nfr = {v: sum(1 for vid, _ in fh if vid == v) for v, _ in fh}
    brute = {}
    for i, h in ih.items():
        for v, hf in fh:
            d = bin(h ^ hf).count("1")
            if d <= 3:
                n, best = brute.get((i, v), (0, 64))
                brute[(i, v)] = (n + 1, min(best, d))
    want = {(i, v): (n, nfr[v], best) for (i, v), (n, best) in brute.items()}
    assert got == want
    assert got[(0, 1000)] == (1, 4, 0) and got[(0, 1009)] == (1, 4, 2)


def test_phash_max_hamming_guard():
    """mm2: distances beyond the pigeonhole guarantee raise instead of
    silently returning an incomplete pair set."""
    import pytest

    from pdf_etl_pipeline_spark.llmdata.multimodal import phash_dup_pairs

    with pytest.raises(ValueError, match="incomplete"):
        phash_dup_pairs(None, max_hamming=4)


def test_materialized_queries_leave_no_cached_blocks(spark, sf_dir):
    """The eager-checkpoint discipline (dd8/sk4/dc2): after the registered
    query runs, the HEAVY build caches (span explodes, hashed tokens,
    sketches) are released — only the tiny localCheckpoint'ed results may
    remain (ContextCleaner GCs those when their refs drop), so cached
    BYTES stay result-sized, not corpus-sized."""
    from pdf_etl_pipeline_spark.catalog.corpus_q import dc2_near_decontamination
    from pdf_etl_pipeline_spark.catalog.dedup_q import dd8_dup_spans
    from pdf_etl_pipeline_spark.catalog.extended_q import sk4_kmv_overlap

    def cached_bytes():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    base = cached_bytes()
    for fn in (dd8_dup_spans, sk4_kmv_overlap, dc2_near_decontamination):
        fn(spark, sf_dir).collect()
    grown = cached_bytes() - base
    # three small checkpointed results; the spans/hashed/sketch caches
    # (MBs even at sf0.001) must be gone
    assert grown < 1_000_000, f"cached bytes grew by {grown}"


@pytest.mark.slow
def test_semdedup_recovers_planted_twins(spark, sf_dir):
    """dd9: on the twin-augmented corpus the cluster-scoped pass recovers
    nearly every planted (v, v+eps) pair — misses are cell-boundary
    straddles, the paper's accepted trade (measured: 498/500 at sf0.01)
    — and never reports a pair below the threshold."""
    from pdf_etl_pipeline_spark.catalog.dedup_q import _TWIN_OFFSET, _augmented_embeddings
    from pdf_etl_pipeline_spark.llmdata.similarity import semdedup_pairs

    aug = _augmented_embeddings(spark, sf_dir)
    n_base = aug.count() // 2
    pairs = semdedup_pairs(aug, threshold=0.9).collect()
    assert all(r.cosine >= 0.9 for r in pairs)
    twins = {(r.id_a, r.id_b) for r in pairs if r.id_b == r.id_a + _TWIN_OFFSET}
    assert len(twins) >= 0.95 * n_base

    # a cap no cell reaches is a structural no-op: results BIT-IDENTICAL
    capped = semdedup_pairs(aug, threshold=0.9, cell_cap=10_000_000).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, pairs))


@pytest.mark.slow
def test_semdedup_cell_cap_bounds_skewed_cells(spark):
    """dd9 cell_cap: a skew-planted corpus (every vector near one
    direction -> k-means dumps them into one mega-cell) re-quadratizes the
    pair join; the cap splits the cell into ceil(|cell|/cap) sub-cells by
    a secondary hash, bounding pair work by construction. Found pairs are
    a subset of the uncapped result (the documented recall trade); twin
    pairs sharing a sub-cell are still found with exact cosines."""
    import math

    from pdf_etl_pipeline_spark.llmdata.similarity import semdedup_pairs

    n, n_hot, dim = 400, 360, 8
    rows = []
    for i in range(n_hot):
        # 360 EXACTLY identical embeddings — k-means must put them in one
        # cell, the mega-cell no balance promise can prevent
        rows.append((i, [1.0] + [0.0] * (dim - 1)))
    for i in range(n_hot, n):
        v = [0.0] * dim
        v[i % dim] = 1.0
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    full = semdedup_pairs(emb, threshold=0.999).collect()
    cap = 50
    capped = semdedup_pairs(emb, threshold=0.999, cell_cap=cap).collect()

    full_set = {(r.id_a, r.id_b): r.cosine for r in full}
    capped_set = {(r.id_a, r.id_b): r.cosine for r in capped}
    # subset with identical cosines — sub-bucketing drops pairs, never
    # invents or rescores them
    for k, v in capped_set.items():
        assert k in full_set and full_set[k] == v
    # the bound is real at the JOIN level (threshold=-1 admits every
    # candidate, so counts measure the pair join itself): with n_sub =
    # ceil(n/cap) hash-balanced sub-cells, candidates collapse from
    # C(n, 2) toward Σ C(|sub|, 2) — 2x headroom for hash imbalance
    full_cand = semdedup_pairs(emb, threshold=-1.0).count()
    capped_cand = semdedup_pairs(emb, threshold=-1.0, cell_cap=cap).count()
    assert full_cand >= n_hot * (n_hot - 1) / 2  # the mega-cell went quadratic
    n_sub = math.ceil(n_hot / cap)
    ideal = n_sub * (n_hot / n_sub) * ((n_hot / n_sub) - 1) / 2
    spread_slack = (n - n_hot) * (n - n_hot - 1) / 2
    assert capped_cand <= 2 * (ideal + spread_slack) < full_cand


# --- SS11: text -> hashed embeddings -> ANN ------------------------------------
@pytest.mark.slow
def test_feature_hash_vectors_deterministic_and_indexable(spark, sf_dir):
    """SS11: random-sign feature hashing produces deterministic, indexable
    vectors from raw text — the IVF index learned over the hashed space
    reaches recall@5 comparable to (here: above) the same index over the
    synthetic embeddings table. Every quantity is deterministic (portable
    md5 hashing, decimal-exact k-means), so the recalls are pinned exactly."""
    from pdf_etl_pipeline_spark.llmdata import similarity as SS

    Q = [0, 1, 2, 3, 4]
    hv = SS.feature_hash_vectors(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    # structure: one dense 64-dim double vector per doc, no zero vectors
    first = hv.orderBy("vec_id").first()
    assert len(first["embedding"]) == SS.DIM
    assert any(x != 0 for x in first["embedding"])
    assert hv.count() == 500

    def recall(vecs):
        exact = {(r.query_id, r.cand_id) for r in SS.cosine_topk(vecs, Q, k=5).collect()}
        ivf = {(r.query_id, r.cand_id) for r in SS.ivf_topk(vecs, Q, k=5).collect()}
        return len(exact & ivf) / len(exact)

    r_text = recall(hv)
    r_syn = recall(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    assert r_text == 0.52  # deterministic at sf0.001 (pinned)
    assert r_syn == 0.32


def test_dup_token_coverage_merges_overlapping_windows(spark):
    """dd10: a shared 12-token run in two docs duplicates 3 overlapping
    10-token windows, but the merged TOKEN coverage is exactly 12 — the
    quantity dd8's window fraction over-counts. Separated runs merge
    per-island; clean docs report zero."""
    from pdf_etl_pipeline_spark.llmdata.dedup import dup_token_coverage

    shared = " ".join(f"s{i}" for i in range(12))  # 12-token duplicated run
    rows = [
        # doc 1: shared run + 8 unique tokens -> 20 tokens, 12 covered
        (1, shared + " " + " ".join(f"a{i}" for i in range(8))),
        # doc 2: 5 unique + shared run + 5 unique -> 22 tokens, 12 covered
        (2, " ".join(f"b{i}" for i in range(5)) + " " + shared + " "
            + " ".join(f"c{i}" for i in range(5))),
        # doc 3: completely unique, longer than a window -> zero coverage
        (3, " ".join(f"z{i}" for i in range(15))),
        # doc 4: shorter than one window -> no spans, zero coverage
        (4, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_token_coverage(docs, n=10).collect()}
    assert (out[1].n_tokens, out[1].n_dup_tokens) == (20, 12)
    assert (out[2].n_tokens, out[2].n_dup_tokens) == (22, 12)
    assert out[1].dup_token_frac == round(12 / 20, 6)
    assert out[3].n_dup_tokens == 0 and out[4].n_dup_tokens == 0

    # two SEPARATED duplicated runs in one doc merge as two islands
    run2 = " ".join(f"t{i}" for i in range(10))
    rows2 = [
        (1, shared + " " + " ".join(f"g{i}" for i in range(10)) + " " + run2),
        (2, shared),
        (3, run2),
    ]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {r.doc_id: r for r in dup_token_coverage(docs2, n=10).collect()}
    # doc 1: 12 (island 1) + 10 (island 2) = 22 of 32 tokens
    assert (out2[1].n_tokens, out2[1].n_dup_tokens) == (32, 22)
    assert (out2[2].n_dup_tokens, out2[3].n_dup_tokens) == (12, 10)


def test_trim_dup_spans_removes_exactly_the_covered_runs(spark):
    """dd11: the trimmed text is exactly the original minus the duplicated
    run — verified against Python-computed md5s of the expected remainders;
    clean docs round-trip untouched, fully-duplicated docs empty out."""
    import hashlib

    from pdf_etl_pipeline_spark.llmdata.dedup import trim_dup_spans

    shared = " ".join(f"s{i}" for i in range(12))
    uniq1 = " ".join(f"a{i}" for i in range(8))
    pre2 = " ".join(f"b{i}" for i in range(5))
    post2 = " ".join(f"c{i}" for i in range(5))
    clean = " ".join(f"z{i}" for i in range(15))
    rows = [
        (1, shared + " " + uniq1),
        (2, pre2 + " " + shared + " " + post2),
        (3, clean),
        (4, shared),  # nothing but the duplicated run -> trims to empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in trim_dup_spans(docs, n=10).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert (out[1].n_kept, out[1].trimmed_md5) == (8, h(uniq1))
    assert (out[2].n_kept, out[2].trimmed_md5) == (10, h(pre2 + " " + post2))
    assert (out[3].n_kept, out[3].trimmed_md5) == (15, h(clean))
    assert (out[4].n_kept, out[4].trimmed_md5) == (0, h(""))
    assert out[4].n_tokens == 12


def test_dd13_cluster_size_histogram_counts_families(spark, tmp_path):
    """dd13: two identical docs plus one unique doc histogram as one
    size-2 family and one singleton; doc counts partition the corpus."""
    from pdf_etl_pipeline_spark.catalog.dedup_q import dd13_cluster_size_histogram

    dup = " ".join(f"s{i}" for i in range(12))
    rows = [(1, dup), (2, dup), (3, " ".join(f"z{i}" for i in range(12)))]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = sorted(
        map(tuple, dd13_cluster_size_histogram(spark, str(tmp_path)).collect())
    )
    assert out == [(1, 1, 1), (2, 1, 2)]


def test_dd12_span_provenance_examples_and_ranking(spark, tmp_path):
    """dd12: a 12-token run shared by two docs yields exactly its 3
    duplicated 10-token windows, each with nd=2/occ=2, the example at the
    lexicographic-min (doc_id, pos) site, and the reconstructed span text
    equal to the actual window tokens."""
    from pdf_etl_pipeline_spark.catalog.dedup_q import dd12_span_provenance

    s = [f"s{i}" for i in range(12)]
    rows = [
        (1, " ".join(s) + " " + " ".join(f"a{i}" for i in range(8))),
        (2, " ".join(f"b{i}" for i in range(5)) + " " + " ".join(s) + " "
            + " ".join(f"c{i}" for i in range(5))),
        (3, " ".join(f"z{i}" for i in range(15))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = dd12_span_provenance(spark, str(tmp_path)).collect()
    assert len(out) == 3  # the 3 overlapping duplicated windows
    assert len({r.h for r in out}) == 3
    got = {(r.nd, r.n_occurrences, r.example_doc_id, r.example_pos, r.span_text) for r in out}
    want = {(2, 2, 1, k, " ".join(s[k : k + 10])) for k in range(3)}
    assert got == want


def test_span_family_coverage_trim_consistency(spark, sf_dir):
    """Cross-operator invariant on the real documents table: dd10's merged
    coverage and dd11's kept count must partition every document exactly —
    n_kept + n_dup_tokens == n_tokens, per doc, no exceptions. (The two
    operators share the hash pipeline but compute coverage independently:
    interval lengths vs anti-joined positions.)"""
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        dup_token_coverage,
        trim_dup_spans,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    cov = {r.doc_id: r for r in dup_token_coverage(docs).collect()}
    trim = {r.doc_id: r for r in trim_dup_spans(docs).collect()}
    assert set(cov) == set(trim)
    assert any(r.n_dup_tokens > 0 for r in cov.values())  # corpus has dups
    for doc_id, c in cov.items():
        t = trim[doc_id]
        assert c.n_tokens == t.n_tokens
        assert t.n_kept + c.n_dup_tokens == c.n_tokens, doc_id


def test_ml7_calibration_margin_semantics(spark):
    """ml7: a corpus with strongly separated classes puts confidently-
    classified docs in high-margin bins with high accuracy; an ambiguous
    doc (mixed vocabulary) lands in the lowest bin; bin math and the
    accuracy/mean aggregates reconcile against the per-doc predictions."""
    from pdf_etl_pipeline_spark.llmdata.classify import (
        CALIB_BIN_W,
        CALIB_BINS,
        naive_bayes_classify,
        nb_margin_calibration,
    )

    rows = (
        [(i, "aaa bbb ccc " * 6, "en", "s", 0) for i in range(4)]
        + [(10 + i, "xxx yyy zzz " * 6, "fr", "s", 0) for i in range(4)]
        # ambiguous: half of each vocabulary, labeled en
        + [(20, "aaa bbb ccc xxx yyy zzz", "en", "s", 0)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.bin: r for r in nb_margin_calibration(docs).collect()}
    preds = {r.doc_id: r for r in naive_bayes_classify(docs).collect()}

    # totals reconcile: every doc is in exactly one bin
    assert sum(r.n_docs for r in out.values()) == len(rows)
    # the pure-vocabulary docs are far from the decision boundary; the
    # mixed doc's scores under both classes differ only via the prior,
    # so its margin is near zero -> bin 0
    assert 0 in out and out[0].n_docs >= 1
    top_bin = max(out)
    assert out[top_bin].accuracy == 1.0
    assert top_bin <= CALIB_BINS - 1
    # bins and margins agree with the fixed width
    for b, r in out.items():
        assert b == min(int(r.mean_margin // CALIB_BIN_W), CALIB_BINS - 1) or r.n_docs > 1
    # every pure doc classified correctly (sanity for the accuracy claim)
    assert all(preds[i].lang_pred == "en" for i in range(4))
    assert all(preds[10 + i].lang_pred == "fr" for i in range(4))

def test_audio_fingerprint_dedup_real_wav(spark):
    """Audio fingerprint dedup (r12): a WAV and its lightly-noised,
    re-encoded copy pair up within Hamming 3 via the exact pigeonhole
    banding; a spectrally different signal does not; banding finds
    exactly the brute-force Hamming pairs (no false negatives)."""
    import numpy as np

    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        ASSET_SCHEMA,
        audio_dup_pairs,
        audio_fingerprint,
        encode_wav,
    )

    n = 4096
    t = np.arange(n) / 16000.0
    # BROADBAND, non-stationary base (deterministic): enveloped brown+white
    # noise loads every spectral band in every frame, so the sign bits ride
    # O(signal) energy differences — sparse pure-tone spectra would leave
    # most bands at noise floor where signs are meaningless
    rng0 = np.random.default_rng(3)
    brown = np.cumsum(rng0.normal(0, 1, n))
    brown -= brown.mean()
    brown /= np.max(np.abs(brown))
    env = 0.3 + 0.7 * np.sin(np.linspace(0, 3.1, n)) ** 2
    base = np.clip(0.7 * env * (0.6 * brown + 0.4 * rng0.normal(0, 0.3, n)), -1, 1)
    # ~-54 dB additive noise (dither-scale), fixed seed: Hamming 2 from base
    noisy = np.clip(base + np.random.default_rng(0).normal(0, 0.002, n), -1, 1)
    other = 0.6 * np.sin(2 * np.pi * 700 * t) + 0.4 * np.sin(2 * np.pi * 5200 * t)
    quiet = np.clip(0.5 * base, -1, 1)  # level change: signs survive scaling
    rows = [
        (1, "audio", encode_wav(base, 16000), (0, 0, 16000, 1, "wav")),
        (2, "audio", encode_wav(noisy, 16000), (0, 0, 16000, 1, "wav")),
        (3, "audio", encode_wav(other, 16000), (0, 0, 16000, 1, "wav")),
        (4, "audio", encode_wav(quiet, 16000), (0, 0, 16000, 1, "wav")),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    fps = audio_fingerprint(assets, decode="real")
    pairs = {(r.asset_a, r.asset_b): r.hamming for r in audio_dup_pairs(fps).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3  # noised re-encode recalled
    assert (1, 4) in pairs  # pure level change: identical sign structure
    assert (1, 3) not in pairs and (2, 3) not in pairs  # different spectrum
    # banding == brute force on this set (pigeonhole exactness)
    hs = {r.asset_id: r.afp & ((1 << 64) - 1) for r in fps.collect()}
    brute = {
        (a, b): bin(hs[a] ^ hs[b]).count("1")
        for a in hs
        for b in hs
        if a < b and bin(hs[a] ^ hs[b]).count("1") <= 3
    }
    assert pairs == brute
    # non-WAV codecs stay honestly gated
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(9, "audio", b"ID3\x04", (0, 0, 44100, 1, "mp3"))], ASSET_SCHEMA
    )
    with _pytest.raises(Exception, match="torchcodec"):
        audio_fingerprint(bad, decode="real").collect()

@pytest.mark.skipif(
    not os.path.isdir("/root/reference/data/company-A/raw"),
    reason="reference corpus not present",
)
def test_video_dup_pairs_real_avi(spark):
    """Video near-dup (r12): a CLIP (strict frame subset re-wrapped in a
    new AVI container) of a longer MJPEG video pairs at containment 1.0
    via frame-level pigeonhole banding; banding equals brute force on
    the frame hashes; non-AVI containers stay honestly gated."""
    import glob

    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        ASSET_SCHEMA,
        encode_avi_mjpeg,
        video_dup_pairs,
        video_frame_hashes,
    )

    paths = sorted(glob.glob("/root/reference/data/company-A/raw/*.jpg"))[:2]
    ja, jb = (open(p, "rb").read() for p in paths)
    v1 = encode_avi_mjpeg([ja, jb, ja, jb], width=64, height=64, fps=4)
    v2 = encode_avi_mjpeg([ja, jb], width=64, height=64, fps=4)  # the clip
    assets = spark.createDataFrame(
        [
            (1, "video", v1, (64, 64, 0, 4, "avi")),
            (2, "video", v2, (64, 64, 0, 2, "avi")),
        ],
        ASSET_SCHEMA,
    )
    fh = video_frame_hashes(assets, every_n=1, decode="real")
    hashes = {(r.asset_id, r.frame_idx): r.fhash for r in fh.collect()}
    assert len(hashes) == 6
    # identical JPEG bytes decode to identical aHashes across containers
    assert hashes[(1, 0)] == hashes[(2, 0)] == hashes[(1, 2)]
    assert hashes[(1, 1)] == hashes[(2, 1)] == hashes[(1, 3)]
    assert hashes[(1, 0)] != hashes[(1, 1)]  # two different receipts

    pairs = video_dup_pairs(fh).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.asset_a, p.asset_b) == (1, 2)
    assert (p.n_frames_a, p.n_frames_b) == (4, 2)
    # every frame on both sides matches something on the other
    assert (p.n_matched_a, p.n_matched_b, p.match_frac) == (4, 2, 1.0)

    # mp4 stays gated
    bad = spark.createDataFrame(
        [(9, "video", b"\x00\x00\x00 ftypisom", (0, 0, 0, 3, "mp4"))], ASSET_SCHEMA
    )
    with pytest.raises(Exception, match="torchcodec"):
        video_frame_hashes(bad, decode="real").collect()


def test_video_dup_pairs_banding_equals_brute_force(spark):
    """Frame-level banding finds EXACTLY the brute-force Hamming<=3 frame
    pairs (stub decode path: deterministic payload-slice hashes), and the
    containment fraction gates dissimilar videos out."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        ASSET_SCHEMA,
        video_dup_pairs,
        video_frame_hashes,
    )

    mk = lambda i, payload, nf: (i, "video", payload, (8, 8, 0, nf, "fake"))
    shared = bytes(range(16)) * 8  # 128 bytes
    rows = [
        mk(1, shared, 4),                      # frames hash from shared slices
        mk(2, shared, 2),                      # same payload prefix -> same hashes
        mk(3, bytes(range(100, 228)), 4),      # different payload -> no matches
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    fh = video_frame_hashes(assets, every_n=1, decode="fake")
    got = {
        (r.asset_a, r.asset_b): (r.n_matched_a, r.n_matched_b, r.match_frac)
        for r in video_dup_pairs(fh).collect()
    }
    hs = {(r.asset_id, r.frame_idx): r.fhash & ((1 << 64) - 1) for r in fh.collect()}
    # brute force at frame level, rolled up with the same containment rule
    from collections import defaultdict
    ma, mb = defaultdict(set), defaultdict(set)
    nf = defaultdict(int)
    for (a, fa), h1 in hs.items():
        nf[a] += 0  # touch
    for (a, fa), h1 in hs.items():
        for (b, fb), h2 in hs.items():
            if a < b and bin(h1 ^ h2).count("1") <= 3:
                ma[(a, b)].add(fa)
                mb[(a, b)].add(fb)
    counts = {aid: sum(1 for k in hs if k[0] == aid) for aid in {k[0] for k in hs}}
    brute = {}
    for key in ma:
        a, b = key
        frac = round(max(len(ma[key]) / counts[a], len(mb[key]) / counts[b]), 6)
        if frac >= 0.5:
            brute[key] = (len(ma[key]), len(mb[key]), frac)
    assert got == brute
    assert (1, 2) in got and got[(1, 2)][2] == 1.0
    assert all(3 not in k for k in got)


def test_dd14_best_keeper_prefers_quality_over_min_id(spark):
    """dd14 semantics on sf0.001: exactly one keeper per cluster, every
    keeper's rounded quality is the cluster max (doc_id tiebreak), and
    the policy genuinely differs from min-id survivorship somewhere on
    this corpus (otherwise the query is dd6b re-labeled)."""
    from collections import defaultdict

    from pdf_etl_pipeline_spark.catalog import load_registry

    rows = load_registry()["dd14_best_keeper"].fn(spark, "/root/testdata/sf0.001").collect()
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    assert sum(1 for r in rows if r.is_keeper) == len(by_cluster)
    for members in by_cluster.values():
        keepers = [r for r in members if r.is_keeper]
        assert len(keepers) == 1
        best_q = max(r.q for r in members)
        assert keepers[0].q == best_q
        assert keepers[0].doc_id == min(r.doc_id for r in members if r.q == best_q)
    # at least one multi-doc cluster keeps a non-minimal id (policy bites)
    assert any(
        len(m) > 1 and next(r for r in m if r.is_keeper).doc_id != min(r.doc_id for r in m)
        for m in by_cluster.values()
    )


def test_cc12_funnel_invariants(spark):
    """cc12's funnel on sf0.001: monotone doc counts through the drop
    stages, span_trim preserves docs but removes tokens, decontamination
    really bites (there are planted bench near-copies), best_dedup keeps
    exactly the number of survivor clusters, and every retention is
    relative to the raw corpus stage."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    rows = {
        r.stage_name: r
        for r in load_registry()["cc12_guarded_corpus_build"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert list(rows) == ["raw", "decontaminate", "best_dedup", "span_trim", "lang", "quality"]
    d = [rows[s].n_docs for s in rows]
    assert d[0] >= d[1] >= d[2] == d[3] >= d[4] >= d[5] > 0
    assert d[1] < d[0]  # decontamination bites on this corpus
    assert d[2] < d[1]  # dedup bites
    assert rows["span_trim"].n_tokens < rows["best_dedup"].n_tokens  # trim bites
    assert rows["raw"].doc_retention == 1.0 and rows["raw"].token_retention == 1.0
    assert rows["quality"].doc_retention == round(d[5] / d[0], 6)


def test_mm5_manifest_keeper_invariants(spark, sf_dir):
    """mm5: one keeper per cluster, keeper = min asset in cluster, every
    asset appears once per modality, and clusters match the pair graph's
    transitive closure (planted structure: image groups of 4 with member
    3 banding-pruned; audio groups of 5 with members straddling the
    budget)."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    out = load_registry()["mm5_dedup_manifest"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    per_mod = defaultdict(dict)
    for r in out:
        assert r.asset_id not in per_mod[r.modality]
        per_mod[r.modality][r.asset_id] = r
    assert set(per_mod) == {"image", "audio", "video"}
    for mod, rows in per_mod.items():
        clusters = defaultdict(list)
        for r in rows.values():
            clusters[r.cluster_id].append(r)
        for cid, members in clusters.items():
            keepers = [m for m in members if m.is_keeper]
            assert len(keepers) == 1 and keepers[0].asset_id == cid
            assert cid == min(m.asset_id for m in members)
    # image arm: perturbations {0,0,3,127} in groups of 4 -> members
    # {0,1,2} cluster together (127 is beyond Hamming 3), so cluster
    # sizes are {3, 1} within every full group
    img = per_mod["image"]
    full = [a for a in img if a // 4 < (max(img) // 4)]
    sizes = defaultdict(set)
    for a in full:
        sizes[img[a].cluster_id].add(a)
    assert {len(v) for v in sizes.values()} <= {1, 3}


def test_dd15_containment_excerpt_and_exact_boundary(spark):
    """dd15: an excerpt (strict token subset) is found at containment 1.0
    with tiny Jaccard — the pair Jaccard-based dedup misses; a pair at
    EXACTLY the 0.9 boundary survives (the float 1-0.9 prefix-length trap:
    floor((1-0.9)*10) must be 1, not 0); an unrelated doc pairs with
    nothing; identical texts collapse to one representative."""
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_containment_pairs

    src_words = [f"w{i}" for i in range(40)]
    boundary = [f"b{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(src_words)),                       # source
            (2, " ".join(src_words[:8])),                   # excerpt: 8/8 contained
            (3, " ".join(src_words)),                       # exact dup of 1 -> collapsed
            (4, " ".join(boundary)),                        # boundary pair, n=10
            (5, " ".join(boundary[:9] + ["z0"])),           # inter=9 -> cont exactly 0.9
            (6, "totally unrelated vocabulary here only"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.containment, r.jaccard)
        for r in ppjoin_containment_pairs(docs).collect()
    }
    assert got[(1, 2)][0] == 1.0 and got[(1, 2)][1] == 0.2  # excerpt: Jaccard tiny
    assert got[(4, 5)][0] == 0.9  # the exact-boundary pair the float trap dropped
    assert all(3 not in p and 6 not in p for p in got)
    assert set(got) == {(1, 2), (4, 5)}


def _skewed_hub_rows():
    """(doc_id, text) rows of a planted SKEWED vocabulary, every text
    distinct (no exact-dup collapse interference)."""
    # 30 docs, each a 30-token cyclic run over a 61-token hub vocabulary
    # (every token in ~15 docs — every PREFIX token is common); runs with
    # start offset within ±1 intersect in >= 27 tokens -> genuine
    # containment-0.9 pairs exist INSIDE the skewed regime
    hubs = [f"hub{i:02d}" for i in range(61)]
    rows = [(i, " ".join(hubs[(i * 3 + j) % 61] for j in range(30))) for i in range(30)]
    # a rare-vocab near-dup pair as a control: 29/30 shared
    uniq = [f"d{i}" for i in range(30)]
    return rows + [(100, " ".join(uniq)), (101, " ".join(uniq[:29] + ["rare_tail"]))]


def test_dd15_positional_length_filters_prune_skewed_vocab(spark):
    """PPJoin's positional + length filters on a planted SKEWED vocabulary
    (20 hub tokens shared across 30 docs — every prefix token is common,
    the prefix pigeonhole alone joins nearly all-pairs): the filtered
    candidate relation is a fraction of the unfiltered one, and the
    verified result still equals Python brute force exactly (the filters
    shed only rows the verify would have rejected)."""
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        hashed_tokens,
        ppjoin_candidates,
        ppjoin_containment_pairs,
    )

    rows = _skewed_hub_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {i: set(t.split()) for i, t in rows}
    expect = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                if inter / min(len(sets[a]), len(sets[b])) >= 0.9:
                    expect.add((a, b))
    assert len(expect) >= 5  # the plant really produces in-regime pairs
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in ppjoin_containment_pairs(docs).collect()
    }
    assert set(got) == expect and got[(100, 101)] == round(29 / 30, 6)

    hashed = hashed_tokens(docs).dropDuplicates(["doc_id", "h"])
    n_raw = ppjoin_candidates(
        hashed, positional_filter=False, length_filter=False
    ).count()
    n_filtered = ppjoin_candidates(hashed).count()
    # the skewed regime without filters candidates toward all-pairs;
    # the positional bound collapses that
    assert n_filtered <= n_raw / 2, (n_filtered, n_raw)
    assert n_filtered >= len(expect)  # still a superset of the true pairs


def test_st19_guard_matches_brute_force_on_skewed_vocab(spark, tmp_path):
    """st19's bipartite prefix × postings candidates, pruned by the PPJoin
    length and positional bounds, on dd15's skewed hub vocabulary: half
    the docs pin (plus an exact dup that collapses to its representative),
    the other half screen, and every screened doc's (n_held_matches,
    max_containment) equals Python brute force over the pinned
    representative sets."""
    from pdf_etl_pipeline_spark.streaming import containment_guard as CG

    rows = _skewed_hub_rows()
    held_rows = [r for r in rows if r[0] % 2 == 0] + [(200, rows[0][1])]
    batch_rows = [r for r in rows if r[0] % 2 == 1]
    schema = "doc_id long, text string"
    state = str(tmp_path / "cg")
    assert CG.pin_containment_index(spark.createDataFrame(held_rows, schema), state)
    got = {
        r.doc_id: (r.n_held_matches, r.max_containment)
        for r in CG.guard_containment_batch(spark.createDataFrame(batch_rows, schema), state).collect()
    }

    reps = {}
    for i, t in sorted(held_rows):
        reps.setdefault(t, i)  # md5-group representative: the min doc_id
    held = [set(t.split()) for t in reps]
    expect = {}
    for i, t in batch_rows:
        s = set(t.split())
        hits = [c for c in (len(s & h) / min(len(s), len(h)) for h in held) if c >= 0.9]
        expect[i] = (len(hits), round(max(hits), 6) if hits else None)
    # in-regime matches exist, and the rare-vocab control matches its twin
    assert sum(n for n, _ in expect.values()) >= 10
    assert expect[101] == (1, round(29 / 30, 6))
    assert got == expect


def test_dd16_jaccard_join_boundaries(spark):
    """dd16: pairs at EXACTLY the 0.8 Jaccard boundary survive both the
    ceil-based prefix (9-token sets sharing 8: J = 8/10) and the length
    filter at its own boundary (8 vs 10 tokens, nb = na/t exactly);
    sub-threshold overlap is excluded; identical texts collapse; the
    result equals Python brute force over the rep sets."""
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_jaccard_pairs

    x = [f"x{i}" for i in range(8)]
    y = [f"y{i}" for i in range(8)]
    rows = [
        (1, " ".join(x + ["a0"])),            # 9 tokens
        (2, " ".join(x + ["b0"])),            # 9 tokens, inter 8 -> J = 0.8
        (3, " ".join(y)),                     # 8 tokens
        (4, " ".join(y + ["d0", "d1"])),      # 10 tokens: nb = na/t exactly
        (5, " ".join(x + ["a0"])),            # exact dup of 1 -> collapsed
        (6, " ".join(x[:7] + ["g0", "g1"])),  # inter 7 with doc 1: J = 7/11
        (7, "entirely different words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard for r in ppjoin_jaccard_pairs(docs).collect()
    }
    sets = {i: set(t.split()) for i, t in rows if i != 5}
    expect = {
        (a, b)
        for a in sets
        for b in sets
        if a < b
        and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.8
    }
    assert set(got) == expect == {(1, 2), (3, 4)}
    assert got[(1, 2)] == 0.8 and got[(3, 4)] == 0.8
