"""Operator tests: gap sessionization (W2) incl. the OCR word-grouping form."""

import pytest

from pdf_etl_pipeline_spark.operators.sessionize import group_ocr_words, sessionize_events
from pdf_etl_pipeline_spark.session import load_events


def test_group_ocr_words_reading_order(spark):
    # FIXTURES.md §3 word-box shape: words on two visual lines (Δy0 ≤ 10
    # merges), emitted in (y0, x0) reading order with min/max bbox.
    words = spark.createDataFrame(
        [
            ("r.jpg", 10, 102, 40, 112, "D.I.Y."),
            ("r.jpg", 0, 100, 8, 110, "MR."),
            ("r.jpg", 50, 105, 90, 115, "SDN"),
            ("r.jpg", 0, 140, 30, 150, "GST"),
            ("r.jpg", 35, 143, 60, 153, "ID"),
            ("other.jpg", 0, 10, 5, 20, "X"),
        ],
        "filename string, x0 int, y0 int, x2 int, y2 int, line string",
    )
    out = group_ocr_words(words).collect()
    assert [(r.filename, r.line) for r in out] == [
        ("other.jpg", "X"),
        ("r.jpg", "MR. D.I.Y. SDN"),
        ("r.jpg", "GST ID"),
    ]
    first = [r for r in out if r.line.startswith("MR.")][0]
    assert (first.x0, first.y0, first.x2, first.y2) == (0, 100, 90, 115)


def test_sessionize_events_gap(spark, sf_dir):
    sessions = sessionize_events(load_events(spark, sf_dir), gap_seconds=1800)
    rows = sessions.limit(50).collect()
    assert rows
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_salted_join_equals_plain_join_under_skew(spark):
    """The salted replicated join must return EXACTLY the plain join's rows
    (each fact row meets one copy of its dim row), including under a hot key
    holding most of the fact table."""
    from pdf_etl_pipeline_spark.operators.skew_join import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 900), (3, 901)],  # key 1 is hot
        "k long, payload long",
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "a"), (3, "b"), (4, "unmatched")], "k long, name string")
    got = {(r.k, r.payload, r.name) for r in salted_join(fact, dim, "k", n_salts=8).collect()}
    want = {(r.k, r.payload, r.name) for r in fact.join(dim, "k").collect()}
    assert got == want
    assert len(got) == 502


def test_salted_join_shuffles_on_key_and_salt(spark):
    """The physical join key must include the salt column — that is the
    whole point (the hot key spreads over n_salts reduce tasks)."""
    from pdf_etl_pipeline_spark.operators.skew_join import salted_join

    fact = spark.createDataFrame([(1, 1)], "k long, payload long")
    dim = spark.createDataFrame([(1, "x")], "k long, name string")
    plan = (
        salted_join(fact, dim, "k", n_salts=4)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "_salt" in plan


def test_funnel_strictly_ordered_semantics(spark):
    """w9 semantics on a hand-built log: steps must complete in order,
    each strictly after the previous — a purchase BEFORE the click doesn't
    count, an equal-timestamp event doesn't count (strict >), and users
    who never did step 0 are absent."""
    from pdf_etl_pipeline_spark.operators.funnel import funnel_steps

    rows = [
        # u1: clean in-order funnel
        (1, "signup", 100), (1, "view", 200), (1, "click", 300), (1, "purchase", 400),
        # u2: purchase happened before the click -> purchase not counted
        (2, "signup", 100), (2, "view", 200), (2, "purchase", 250), (2, "click", 300),
        # u3: view at the SAME instant as signup -> strict > rejects it,
        #     the later view counts instead
        (3, "signup", 100), (3, "view", 100), (3, "view", 500),
        # u4: no signup -> excluded entirely
        (4, "view", 100), (4, "purchase", 200),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts_ns long")
    out = {
        r.user_id: (r.t0, r.t1, r.t2, r.t3)
        for r in funnel_steps(ev, ["signup", "view", "click", "purchase"]).collect()
    }
    assert out[1] == (100, 200, 300, 400)
    assert out[2] == (100, 200, 300, None)  # purchase@250 precedes click@300
    assert out[3] == (100, 500, None, None)  # view@100 not strictly after signup@100
    assert 4 not in out


def test_kmv_estimate_accuracy_and_fallback(spark, sf_dir):
    """KMV sketch sanity: (a) groups with < k surviving hashes report the
    EXACT distinct count (fallback path), (b) large groups estimate within
    the standard ~1/sqrt(k) relative-error envelope of the true
    cardinality, (c) output is deterministic across runs."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.sketches import KMV_K, kmv_distinct
    from pdf_etl_pipeline_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F2.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    out1 = {r.l_returnflag: r for r in kmv_distinct(li, "l_returnflag", "l_partkey").collect()}
    out2 = {r.l_returnflag: r for r in kmv_distinct(li, "l_returnflag", "l_partkey").collect()}
    assert {k: (v.est_distinct, v.sketch_size) for k, v in out1.items()} == {
        k: (v.est_distinct, v.sketch_size) for k, v in out2.items()
    }
    for flag, true_n in exact.items():
        r = out1[flag]
        if r.sketch_size < KMV_K:
            assert r.est_distinct == float(true_n)  # exact fallback
        else:
            # ~4 standard errors of the KMV estimator (1/sqrt(k-2))
            assert abs(r.est_distinct - true_n) / true_n < 4 / (KMV_K - 2) ** 0.5

    # tiny synthetic group: must take the exact path
    tiny = spark.createDataFrame([("g", i) for i in range(10)], "grp string, v long")
    t = kmv_distinct(tiny, "grp", "v").collect()[0]
    assert t.est_distinct == 10.0 and t.sketch_size < KMV_K


def test_fuzzy_pairs_covers_all_ed1_edit_kinds(spark):
    """Deletion-neighborhood candidates must cover every edit-distance-1
    relation (substitution, insertion, deletion) and the exact verify must
    kill shared-variant false positives (transpositions are ED 2)."""
    from pdf_etl_pipeline_spark.operators.fuzzy import fuzzy_pairs

    rows = [
        (1, "spark"),
        (2, "spork"),   # substitution of 1
        (3, "sparks"),  # insertion vs 1
        (4, "spak"),    # deletion vs 1
        (5, "ab"),
        (6, "ba"),      # transposition: shares deletion variants, ED 2
        (7, "zzzzz"),   # unrelated
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r.key_a, r.key_b): r.edit_dist for r in fuzzy_pairs(df, "id", "name").collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert (5, 6) not in got  # candidate generated but verified out
    assert all(7 not in pair for pair in got)


def test_fuzzy_pairs_ed2_complete_vs_brute(spark):
    """max_dist=2 must return the COMPLETE pair set — every pair the brute
    all-pairs Levenshtein finds at distance <= 2, across every edit kind
    reachable in two steps (transposition, double substitution, sub+insert,
    double deletion, short strings)."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.fuzzy import fuzzy_pairs

    rows = [
        (1, "spark"),
        (2, "spork"),    # 1 sub of 1
        (3, "stork"),    # 2 subs of 1; 1 sub of 2
        (4, "spa"),      # 2 deletions of 1
        (5, "sparkle"),  # 2 insertions of 1
        (6, "ab"),
        (7, "ba"),       # transposition (ED 2)
        (8, "a"),        # 1-char: deletion vs 6
        (9, "abba"),     # ED 2 vs 6 ("ab") and vs 7 ("ba")
        (10, "zzzzz"),   # unrelated to everything
        (11, "parks"),   # transposed head vs 1 ("spark" -> "parks" is ED 2)
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.key_a, r.key_b): r.edit_dist
        for r in fuzzy_pairs(df, "id", "name", max_dist=2).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.key_a, r.key_b): r.edit_dist
        for r in a.join(b, F2.col("a.id") < F2.col("b.id"))
        .select(
            F2.col("a.id").alias("key_a"),
            F2.col("b.id").alias("key_b"),
            F2.levenshtein("a.name", "b.name").cast("long").alias("edit_dist"),
        )
        .filter(F2.col("edit_dist") <= 2)
        .collect()
    }
    assert got == brute
    assert got[(6, 7)] == 2 and got[(1, 11)] == 2  # transpositions present


def test_fuzzy_pairs_rejects_unsupported_max_dist(spark):
    """max_dist outside [1, 2] must raise, never silently return a partial
    pair set (the exact footgun the depth guard exists for)."""
    import pytest

    from pdf_etl_pipeline_spark.operators.fuzzy import fuzzy_pairs, fuzzy_pairs_sql

    df = spark.createDataFrame([(1, "x")], "id long, name string")
    for bad in (0, 3, 10):
        with pytest.raises(ValueError, match="max_dist"):
            fuzzy_pairs(df, "id", "name", max_dist=bad)
        with pytest.raises(ValueError, match="max_dist"):
            fuzzy_pairs_sql("t", "id", "name", max_dist=bad)


def test_kmv_exact_fallback_fires_when_pruning_starves_sketch(spark):
    """Adversarial fallback case: a group with MORE than k distinct values
    whose surviving (< M/prune) hash count is below k — the sketch is not
    full, and exact mode must return the exact distinct count, not a
    truncated-sketch estimate."""
    from pdf_etl_pipeline_spark.operators.sketches import (
        KMV_K,
        KMV_PRUNE,
        M_SPACE,
        kmv_distinct,
    )

    n = 100  # > k = 64 distinct values
    df = spark.createDataFrame([("g", f"val-{i}") for i in range(n)], "grp string, v string")
    # precondition, computed with the op's own hash: pruning leaves < k
    # survivors (expected n/prune = 12.5), so the sketch CANNOT fill
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32
    from pyspark.sql import functions as F2

    survivors = df.select(
        portable_hash32(F2.col("v").cast("string")).alias("h")
    ).filter(F2.col("h") < M_SPACE // KMV_PRUNE).count()
    assert survivors < KMV_K, "fixture no longer starves the sketch"

    r = kmv_distinct(df, "grp", "v").collect()[0]
    assert r.sketch_size == survivors < KMV_K
    assert r.est_distinct == float(n)  # EXACT, despite > k distinct values


def test_kmv_sketch_only_mode(spark, sf_dir):
    """exact_fallback=False: full-sketch groups estimate identically to
    exact mode (same k-th-hash estimator); starved groups estimate
    survivors*prune; and the mode never computes the exact distinct — its
    plan aggregates the raw rows for the group universe, so the full
    (group, hash) dedup appears ONCE (survivor branch), not twice."""
    from pdf_etl_pipeline_spark.operators.sketches import (
        KMV_K,
        KMV_PRUNE,
        kmv_distinct,
    )
    from pdf_etl_pipeline_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact_mode = {r.l_returnflag: r for r in kmv_distinct(li, "l_returnflag", "l_partkey").collect()}
    sketch_mode = {
        r.l_returnflag: r
        for r in kmv_distinct(
            li, "l_returnflag", "l_partkey", exact_fallback=False
        ).collect()
    }
    assert exact_mode.keys() == sketch_mode.keys()
    for flag, r in sketch_mode.items():
        if r.sketch_size >= KMV_K:
            assert r.est_distinct == exact_mode[flag].est_distinct
        else:
            assert r.est_distinct == float(r.sketch_size * KMV_PRUNE)

    # one Aggregate over distinct (grp, h) in the plan, not two: the only
    # 'deduplicate' shuffle left is the pruned survivor branch
    plan = (
        kmv_distinct(li, "l_returnflag", "l_partkey", exact_fallback=False)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    import re

    assert len(re.findall(r"Aggregate \[l_returnflag#?\w*, h", plan)) == 1


# --- S13: SCD-2 history -------------------------------------------------------
def test_scd2_history_invariants(spark, sf_dir):
    """Per user: intervals are change-compressed (no two consecutive rows
    share a state), chained (each valid_to equals the next valid_from),
    exactly one open (current) interval, and replaying any event through
    the intervals recovers the state the event stream was in."""
    from pdf_etl_pipeline_spark.operators.scd import scd2_history
    from pdf_etl_pipeline_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    hist = scd2_history(events, "user_id", "event_type", "ts", "event_id")
    rows = sorted(
        hist.collect(), key=lambda r: (r.user_id, r.valid_from)
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    n_users = events.select("user_id").distinct().count()
    assert len(by_user) == n_users
    for ivs in by_user.values():
        assert sum(1 for r in ivs if r.is_current) == 1
        assert ivs[-1].is_current and ivs[-1].valid_to is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from  # chained, no gaps/overlaps
            assert a.event_type != b.event_type  # change-compressed

    # point-in-time replay: the state at each event's ts matches the stream
    sample = events.orderBy("event_id").limit(200).collect()
    for ev in sample:
        ivs = by_user[ev.user_id]
        state = [
            r.event_type
            for r in ivs
            if r.valid_from <= ev.ts and (r.valid_to is None or ev.ts < r.valid_to)
        ]
        assert len(state) == 1


# --- W10: sequence pattern matching -------------------------------------------
def test_pattern_match_negative_condition(spark):
    """v[^e]*c[^e]*p admits view->click->purchase histories and rejects
    ones where an error falls between the view and the purchase — the
    semantics a step-join funnel cannot express. Also pins ordering: the
    symbol string follows (ts, event_id), not input order."""
    from pdf_etl_pipeline_spark.operators.patterns import event_sequences, match_pattern

    alpha = {"signup": "s", "view": "v", "click": "c", "purchase": "p", "error": "e"}
    rows = [
        # user 1: clean v..c..p (with an early error BEFORE the view - ok)
        (0, "2024-01-01T00:00:00", 1, "error"),
        (1, "2024-01-01T00:01:00", 1, "view"),
        (2, "2024-01-01T00:02:00", 1, "click"),
        (3, "2024-01-01T00:03:00", 1, "purchase"),
        # user 2: error between click and purchase - rejected
        (4, "2024-01-01T00:01:00", 2, "view"),
        (5, "2024-01-01T00:02:00", 2, "click"),
        (6, "2024-01-01T00:02:30", 2, "error"),
        (7, "2024-01-01T00:03:00", 2, "purchase"),
        # user 3: never purchases - rejected
        (8, "2024-01-01T00:01:00", 3, "view"),
        (9, "2024-01-01T00:02:00", 3, "click"),
        # user 4: out-of-order input rows, in-order timestamps - accepted
        (12, "2024-01-01T00:03:00", 4, "purchase"),
        (10, "2024-01-01T00:01:00", 4, "view"),
        (11, "2024-01-01T00:02:00", 4, "click"),
    ]
    events = spark.createDataFrame(
        [(i, __import__("datetime").datetime.fromisoformat(t), u, e) for i, t, u, e in rows],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {r.user_id: r.seq for r in match_pattern(events, "v[^e]*c[^e]*p", alpha).collect()}
    assert set(got) == {1, 4}
    assert got[1] == "evcp" and got[4] == "vcp"
    seqs = {r.user_id: r.seq for r in event_sequences(events, alpha).collect()}
    assert seqs[2] == "vcep" and seqs[3] == "vc"


# --- G1: PageRank -------------------------------------------------------------
def test_pagerank_invariants(spark):
    """On a hand-built star-plus-chain graph: total rank mass is conserved
    (sum = N when every node has out-edges), the hub out-ranks every leaf,
    and an isolated node keeps exactly the teleport mass."""
    from pdf_etl_pipeline_spark.operators.pagerank import pagerank

    # star: 1..4 <-> 0 (symmetric), chain 5 <-> 6; node 7 isolated
    und = [(0, i) for i in range(1, 5)] + [(5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(8)], "node_id long")
    r = {row.node_id: row.rank for row in pagerank(nodes, edges, iters=10).collect()}
    assert abs(r[7] - 0.15) < 1e-9  # isolated: teleport only
    connected_mass = sum(v for k, v in r.items() if k != 7)
    assert abs(connected_mass - 7.0) < 1e-6  # mass conserved on the 7 wired nodes
    assert r[0] > r[1] > 0  # hub beats leaves
    assert abs(r[1] - r[2]) < 1e-12 and abs(r[5] - r[6]) < 1e-12  # symmetry


# --- DD7: asymmetric containment ----------------------------------------------
def test_containment_catches_what_jaccard_misses(spark):
    """A short doc quoted verbatim inside a long doc: shingle containment
    short->long ~= 1 while Jaccard is tiny — and containment is properly
    asymmetric (long->short stays low)."""
    from pdf_etl_pipeline_spark.llmdata.dedup import (
        containment_pairs,
        jaccard_pairs,
        shingles_col,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    article = " ".join(f"w{i}" for i in range(60)) + " " + quote + " " + " ".join(
        f"z{i}" for i in range(60)
    )
    other = " ".join(f"x{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, quote), (2, article), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(docs, threshold=0.8, sets=shingles_col("text")).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0  # quote fully contained
    assert (2, 1) not in cont  # asymmetry: article not contained in quote
    jac = jaccard_pairs(docs, threshold=0.5, sets=shingles_col("text")).collect()
    assert jac == []  # symmetric Jaccard misses the containment entirely


# --- PC2: histogram quantile sketch -------------------------------------------
def test_histogram_quantiles_accuracy(spark, sf_dir):
    """Sketch estimates land within one bin width of the exact continuous
    percentiles, and a constant-valued group hits the degenerate hi==lo
    path without NaNs."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.operators.histogram import histogram_quantiles
    from pdf_etl_pipeline_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    est = {
        r.l_returnflag: r
        for r in histogram_quantiles(li, "l_returnflag", "l_extendedprice", [0.5, 0.99]).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
            (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("span"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert est.keys() == exact.keys()
    for flag, e in est.items():
        x = exact[flag]
        width = x.span / 1024
        assert e.n_rows == x.n
        assert abs(e.q0_5 - x.p50) <= width
        assert abs(e.q0_99 - x.p99) <= width

    const = spark.createDataFrame([("g", 7.0)] * 5, "grp string, v double")
    row = histogram_quantiles(const, "grp", "v", [0.5]).collect()[0]
    assert row.q0_5 == 7.0 and row.n_rows == 5


def test_triangle_count_known_graphs(spark):
    """g2: K4 has 4 triangles; a star has none regardless of hub degree;
    duplicated/reversed/self-loop inputs canonicalize away."""
    from pdf_etl_pipeline_spark.operators.triangles import triangle_count

    def tri(pairs):
        df = spark.createDataFrame(pairs, "u long, v long")
        return triangle_count(df).collect()[0]

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = tri(k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    # hub star: high-degree center, zero triangles (orientation's worst case)
    star = [(0, i) for i in range(1, 50)]
    r = tri(star)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (50, 49, 0)
    # wheel: star + rim cycle -> one triangle per rim edge
    wheel = star + [(i, i + 1) for i in range(1, 49)] + [(49, 1)]
    assert tri(wheel).n_triangles == 49
    # noise robustness: duplicates, reversed pairs, self-loops
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1)]
    r = tri(noisy)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)


def test_triangle_doulion_matches_python_brute_force(spark):
    """g2a: the DOULION sample is a DETERMINISTIC hash draw, so the whole
    estimate is reproducible in pure Python — recompute the surviving edge
    set with the same md5-derived hash, brute-force its triangles, and the
    Spark counts must match exactly. p_den=p_num pins the degenerate
    keep-everything case against the exact counter."""
    import hashlib
    from itertools import combinations

    from pdf_etl_pipeline_spark.operators.triangles import (
        triangle_count,
        triangle_count_sampled,
    )

    # K10 ∪ a 30-node rim cycle attached at node 0 — dense core + sparse tail
    k10 = [(a, b) for a in range(10) for b in range(10) if a < b]
    rim = [(i, i + 1) for i in range(10, 39)] + [(0, 10), (0, 39)]
    edges = k10 + rim
    df = spark.createDataFrame(edges, "u long, v long")

    # degenerate p=1: identical to the exact counter
    r1 = triangle_count_sampled(df, 1, 1).collect()[0]
    exact = triangle_count(df).collect()[0]
    assert (r1.n_edges_sampled, r1.n_triangles_sampled) == (
        exact.n_edges,
        exact.n_triangles,
    )
    assert r1.est_triangles == float(exact.n_triangles)

    # p=3/10: replicate the hash draw and count triangles brute-force
    def h32(u, v):
        return int(hashlib.md5(f"{u},{v}".encode()).hexdigest()[:8], 16)

    kept = {(u, v) for u, v in edges if h32(u, v) % 10 < 3}
    nodes = sorted({n for e in kept for n in e})
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {(a, b), (a, c), (b, c)} <= kept
    )
    r = triangle_count_sampled(df, 3, 10).collect()[0]
    assert r.n_edges_sampled == len(kept)
    assert r.n_triangles_sampled == tri
    assert r.est_triangles == round(tri * (10 / 3) ** 3, 6)


def test_linreg_recovers_exact_line(spark):
    """ml1: a perfect y = 2x + 3 fits exactly (r2 = 1); a zero-x-variance
    group yields nulls; a noisy group keeps r2 strictly below 1."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.operators.linreg import linreg

    rows = [("lin", float(x), 2.0 * x + 3.0) for x in range(10)]
    rows += [("flat", 5.0, float(y)) for y in range(4)]
    rows += [("noisy", float(x), float(x) + (1.0 if x % 2 else -1.0)) for x in range(10)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    out = {r.grp: r for r in linreg(df, "grp", F.col("x"), F.col("y")).collect()}
    assert abs(out["lin"].slope - 2.0) < 1e-9
    assert abs(out["lin"].intercept - 3.0) < 1e-9
    assert abs(out["lin"].r2 - 1.0) < 1e-9
    assert out["flat"].slope is None and out["flat"].r2 is None
    assert out["noisy"].r2 < 1.0
    # partition-order independence (decimal-exact sufficient statistics)
    out2 = {r.grp: r for r in linreg(df.repartition(7), "grp", F.col("x"), F.col("y")).collect()}
    assert all(out[g] == out2[g] for g in out)


def test_profile_exact_and_native_ordering(spark):
    """dp1: null/distinct counts are exact, min/max use NATIVE ordering
    (9 < 10 numerically) and only then become strings."""
    from pdf_etl_pipeline_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(9, "b"), (10, None), (9, "a"), (None, "a")],
        "num long, s string",
    )
    out = {r.col_name: r for r in profile(df, ["num", "s"]).collect()}
    assert out["num"].n_rows == 4 and out["num"].n_null == 1
    assert out["num"].n_distinct == 2
    assert out["num"].min_str == "9" and out["num"].max_str == "10"  # not lexicographic
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    assert out["s"].min_str == "a" and out["s"].max_str == "b"
    # approx mode stays close on tiny cardinalities
    ap = {r.col_name: r for r in profile(df, ["num"], exact_distinct=False).collect()}
    assert abs(ap["num"].n_distinct - 2) <= 1


def test_ewma_matches_recursion_within_truncation(spark):
    """rs4: the truncated-window EWMA tracks the exact sequential
    recursion within the documented (1-alpha)^W tail bound, and a step
    change decays toward the new level monotonically."""
    from pdf_etl_pipeline_spark.operators.ewma import ALPHA, W_ROWS, ewma

    xs = [10.0] * 40 + [50.0] * 40
    df = spark.createDataFrame(
        [("k", i, x) for i, x in enumerate(xs)], "key string, i long, value double"
    )
    out = [r.ewma for r in ewma(df, "key", ["i"], "value").collect()]
    # exact recursion with s_0 = alpha * x_0 (the truncated form's seed)
    s, exact = 0.0, []
    for x in xs:
        s = ALPHA * x + (1 - ALPHA) * s
        exact.append(s)
    tail = (1 - ALPHA) ** W_ROWS * max(xs)
    assert all(abs(a - b) <= tail + 1e-9 for a, b in zip(out, exact))
    # step response: rises toward 50 while old values remain in frame,
    # then plateaus at 50*(1 - (1-alpha)^W) once the frame is all-new
    post = out[40:]
    rising = post[: W_ROWS - 1]
    assert all(b > a for a, b in zip(rising, rising[1:]))
    assert abs(post[-1] - 50.0 * (1 - (1 - ALPHA) ** W_ROWS)) < 1e-9
    # settled on the old level first (within the truncation tail 10*0.7^32
    # plus the 12-decimal weight quantization)
    assert abs(out[39] - 10.0 * (1 - (1 - ALPHA) ** W_ROWS)) < 1e-9


def test_kmv_overlap_accuracy_and_exact_path(spark):
    """sk4: on planted sets with known overlap the sketch estimates land
    within the standard KMV error envelope; small sets take the exact
    path (merged sketch not full -> union and intersection are truth)."""
    from pdf_etl_pipeline_spark.operators.sketches import KMV_K, kmv_overlap

    # A = 0..3999, B = 2000..5999 -> union 6000, intersection 2000, J=1/3
    rows = [("A", v) for v in range(4000)] + [("B", v) for v in range(2000, 6000)]
    # C, D tiny with known overlap 5: exact path
    rows += [("C", v) for v in range(20)] + [("D", v) for v in range(15, 40)]
    df = spark.createDataFrame(rows, "grp string, user long")
    out = {(r.grp_a, r.grp_b): r for r in kmv_overlap(df, "grp", "user").collect()}
    ab = out[("A", "B")]
    rel = 4.0 / (KMV_K - 2) ** 0.5  # ~4 standard errors
    assert abs(ab.est_union - 6000) / 6000 < rel
    assert abs(ab.est_jaccard - 1 / 3) < 0.25  # binomial(k, 1/3) envelope
    assert ab.merged_size == KMV_K
    cd = out[("C", "D")]
    assert cd.merged_size < KMV_K  # exact path
    assert cd.est_union == 40.0  # |C ∪ D| exactly
    assert cd.est_intersection == 5.0 and abs(cd.est_jaccard - 5 / 40) < 1e-9


def test_rfm_segmentation_invariants(spark, sf_dir):
    """ev2: quintiles are balanced (sizes differ by <= 1), scores agree
    with metric order (top-monetary user has m_score 5), and segment
    labels follow the case chain."""
    from pdf_etl_pipeline_spark.catalog.extended_q import ev2_rfm_segmentation

    rows = ev2_rfm_segmentation(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for col in ("r_score", "f_score", "m_score"):
        sizes = {}
        for r in rows:
            sizes[r[col]] = sizes.get(r[col], 0) + 1
        assert set(sizes) == {1, 2, 3, 4, 5}
        assert max(sizes.values()) - min(sizes.values()) <= 1
    top_m = max(rows, key=lambda r: (r.monetary, -r.user_id))
    assert top_m.m_score == 5
    for r in rows:
        if r.r_score >= 4 and r.f_score >= 4 and r.m_score >= 4:
            assert r.segment == "champion"
        if r.segment == "big_spender":
            assert r.m_score == 5


def test_point_in_time_join_semantics(spark):
    """j6: each fact sees the state valid AT its timestamp — never a
    future state; facts before any history keep NULL; boundary ts
    (exactly at valid_from) takes the NEW state; cardinality preserved."""
    from pdf_etl_pipeline_spark.operators.scd import point_in_time_join, scd2_history

    dim_events = spark.createDataFrame(
        [(1, "basic", 100, 1), (1, "pro", 300, 2), (2, "basic", 100, 3)],
        "user_id long, plan string, ts_n long, eid long",
    )
    hist = scd2_history(dim_events, "user_id", "plan", "ts_n", "eid")
    facts = spark.createDataFrame(
        [(10, 1, 150), (11, 1, 300), (12, 1, 999), (13, 2, 50), (14, 3, 100)],
        "fact_id long, user_id long, ts_n long",
    )
    out = {r.fact_id: r.state_at_time for r in
           point_in_time_join(facts, hist, "user_id", "plan", "ts_n").collect()}
    assert out[10] == "basic"   # before the upgrade
    assert out[11] == "pro"     # boundary: valid_from is inclusive
    assert out[12] == "pro"     # open-ended current interval
    assert out[13] is None      # fact precedes user 2's first interval? no -
    # user 2's history starts at 100; fact at 50 predates it -> NULL
    assert out[14] is None      # user with no history at all
    assert len(out) == 5        # fact cardinality preserved


def test_transition_matrix_rows_sum_to_one(spark, sf_dir):
    """mk1: per-src probabilities sum to ~1 (row-stochastic), counts are
    positive, and a hand-built two-user log yields exact transitions."""
    from pdf_etl_pipeline_spark.catalog.extended_q import mk1_transition_matrix

    rows = mk1_transition_matrix(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    for src, rs in by_src.items():
        assert abs(sum(r.p for r in rs) - 1.0) < 1e-4
        assert all(r.n > 0 for r in rs)
    # hand-built: u1 a->b->a, u2 a->b; transitions a->b x2, b->a x1;
    # user boundaries must NOT create a cross-user transition
    from pyspark.sql import functions as F2

    ev = spark.createDataFrame(
        [(1, 1, "a", 1), (2, 1, "b", 2), (3, 1, "a", 3), (4, 2, "a", 1), (5, 2, "b", 2)],
        "event_id long, user_id long, event_type string, t long",
    ).select("event_id", "user_id", "event_type", F2.col("t").cast("timestamp").alias("ts"))
    # reuse the same plan shape inline
    from pyspark.sql.window import Window as W2
    w = W2.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type", F2.lead("event_type").over(w).alias("dst")).filter(
        F2.col("dst").isNotNull()
    )
    trans = seq.groupBy("event_type", "dst").count().collect()
    counts = {(r.event_type, r.dst): r["count"] for r in trans}
    assert counts == {("a", "b"): 2, ("b", "a"): 1}


def test_count_min_overestimates_and_merges(spark, sf_dir):
    """cm1: estimates never undercount (every probe's est >= truth, the
    absent token reads its collision noise only), and the sketch is
    MERGEABLE — building on two halves and adding counters equals
    building on the whole (the property that makes it streamable)."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.catalog.extended_q import cm1_count_min
    from pdf_etl_pipeline_spark.llmdata.dedup import tokens_col
    from pdf_etl_pipeline_spark.operators.sketches import cms_build
    from pdf_etl_pipeline_spark.session import load_table

    rows = cm1_count_min(spark, sf_dir).collect()
    assert rows and all(r.est >= r.true_cnt for r in rows)
    seen = {r.tok: r for r in rows}
    assert seen["zzzneverseen"].true_cnt == 0

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F2.explode(tokens_col("text", distinct=False)).alias("tok"))
    whole = {(r.row, r.col): r.cnt for r in cms_build(toks).collect()}
    h1 = cms_build(toks.filter(F2.col("doc_id") % 2 == 0)).collect()
    h2 = cms_build(toks.filter(F2.col("doc_id") % 2 == 1)).collect()
    merged = {}
    for r in list(h1) + list(h2):
        merged[(r.row, r.col)] = merged.get((r.row, r.col), 0) + r.cnt
    assert merged == whole


def test_bloom_filter_no_false_negatives_and_pruning(spark):
    """bf1: every true match survives the filter (no false negatives, by
    construction), a disjoint key is pruned, and a tiny m forces observable
    false positives that exact verification then removes."""
    from pdf_etl_pipeline_spark.operators.bloom import (
        bloom_bits,
        bloom_candidates,
        bloom_semi_stats,
    )

    dim = spark.createDataFrame([(k,) for k in (1, 2, 3)], "k long")
    facts = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (100,), (101,), (102,), (None,)], "fk long"
    )
    stats = bloom_semi_stats(facts, "fk", dim, "k").collect()[0]
    assert stats.n_fact_keys == 6  # null excluded
    assert stats.n_true_match == 2
    # no false negatives: candidates contain all true matches
    assert stats.n_candidates >= stats.n_true_match
    assert stats.false_positives == stats.n_candidates - stats.n_true_match
    assert stats.rows_total == 7 and stats.rows_pass >= 3
    # tiny filter (m=8, k=2): bits saturate, disjoint keys leak through as
    # false positives — but NEVER as false negatives
    bits = bloom_bits(dim, "k", m=8, k=2)
    cand = {r.key for r in bloom_candidates(facts, "fk", bits, m=8, k=2).collect()}
    assert {1, 2} <= cand


def test_robust_outliers_flags_planted_point(spark, sf_dir):
    """dp3: a planted far point is flagged by the MAD z-score while the
    tight cluster is not; median/MAD are immune to the outlier itself."""
    from pdf_etl_pipeline_spark.catalog.quality_q import dp3_robust_outliers

    rows = dp3_robust_outliers(spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.mad > 0 and r.n > 0 and r.max_abs_z >= 0
    # planted-frame check of the formula itself
    from pyspark.sql import functions as F

    li = spark.createDataFrame(
        [("A", "F", float(x)) for x in (10, 11, 12, 13, 14, 1000)]
        + [("Z", "Z", 5.0)] * 3,  # constant group: mad 0 -> NULL z by contract
        "l_returnflag string, l_linestatus string, l_extendedprice double",
    )
    import pdf_etl_pipeline_spark.catalog.quality_q as Q

    orig = Q.load_table
    Q.load_table = lambda s, d, t: li
    try:
        outs = dp3_robust_outliers(spark, sf_dir).collect()
    finally:
        Q.load_table = orig
    out, const = outs[0], outs[1]
    # med = 12.5, dev = [2.5, 1.5, .5, .5, 1.5, 987.5] -> mad = 1.5
    assert out.med == 12.5 and out.mad == 1.5
    assert out.n_outliers == 1  # only the 1000 point: |0.6745*987.5/1.5| >> 3.5
    assert abs(out.max_abs_z - round(0.6745 * 987.5 / 1.5, 6)) < 1e-9
    # constant group: mad 0 -> z undefined -> 0 outliers, NULL max_abs_z
    assert const.mad == 0.0 and const.n_outliers == 0 and const.max_abs_z is None


def test_ref_integrity_counts_planted_orphans(spark):
    """dq1 shape on planted data: NULL FKs are counted separately, orphans
    are non-null FKs without a dim match, and NULL dim keys match nothing."""
    from pyspark.sql import functions as F

    facts = spark.createDataFrame([(1,), (2,), (7,), (None,), (None,)], "fk long")
    dim = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    dimk = dim.select(F.col("k").alias("fk")).filter(F.col("fk").isNotNull()).distinct()
    n_null = facts.filter(F.col("fk").isNull()).count()
    orph = facts.filter(F.col("fk").isNotNull()).join(dimk, "fk", "left_anti").count()
    assert n_null == 2 and orph == 1  # only 7 is an orphan; NULLs are not


def test_chi2_hand_computed_2x2(spark, sf_dir):
    """ml4: on a planted 2x2 table the statistic must equal the textbook
    chi-square, including the zero-observed cell's contribution."""
    from pyspark.sql import Row, functions as F
    import pdf_etl_pipeline_spark.catalog.extended_q as X

    # a=u: 30 rows at hour 0 (b=0), 10 at hour 12 (b=2)
    # a=v: 10 rows at hour 0,        30 at hour 12
    rows = (
        [Row(event_type="u", h=0)] * 30
        + [Row(event_type="u", h=12)] * 10
        + [Row(event_type="v", h=0)] * 10
        + [Row(event_type="v", h=12)] * 30
    )
    ev = spark.createDataFrame(rows).select(
        "event_type", F.expr("make_timestamp(2024, 1, 1, h, 0, 0)").alias("ts")
    )
    orig = X.load_events
    X.load_events = lambda s, d: ev
    try:
        out = X.ml4_chi2(spark, sf_dir).collect()[0]
    finally:
        X.load_events = orig
    # margins 40/40 and 40/40, N=80 -> every expected cell = 20;
    # chi2 = 4 * (10^2/20) = 20; V = sqrt(20/80) = 0.5
    assert out.n_rows == 80 and out.dof == 1
    assert abs(out.chi2 - 20.0) < 1e-9
    assert abs(out.cramers_v - 0.5) < 1e-9


def test_ab1_assignment_deterministic_and_balanced(spark, sf_dir):
    """ab1: variant assignment is a pure function of user_id (stable across
    runs/partitionings) and the z-stat is 0 when both variants convert
    identically."""
    from pyspark.sql import functions as F
    import pdf_etl_pipeline_spark.catalog.extended_q as X

    out1 = X.ab1_two_proportion_z(spark, sf_dir).collect()[0]
    out2 = X.ab1_two_proportion_z(spark, sf_dir).collect()[0]
    assert out1 == out2  # deterministic end to end
    from pdf_etl_pipeline_spark.session import load_events

    n_users = load_events(spark, sf_dir).select("user_id").distinct().count()
    assert out1.n_a + out1.n_b == n_users and out1.x_a <= out1.n_a
    assert out1.n_a > 0 and out1.n_b > 0
    # planted: 4 users, hash-assigned, each variant converts its one user
    # with value>=150 -> equal rates -> z == 0
    ev = spark.createDataFrame(
        [(u, "purchase", 200.0) for u in (1, 2, 3, 4)]
        + [(u, "purchase", 10.0) for u in (1, 2, 3, 4)],
        "user_id long, event_type string, value double",
    )
    orig = X.load_events
    X.load_events = lambda s, d: ev
    try:
        out = X.ab1_two_proportion_z(spark, sf_dir).collect()[0]
    finally:
        X.load_events = orig
    # all 4 users convert -> degenerate 100% pooled rate -> NULL z by contract
    assert out.x_a == out.n_a and out.x_b == out.n_b
    assert out.z_stat is None


def test_bloom_bits_mergeable_incremental_build(spark, sf_dir):
    """bf1 streamability: the bit-position relation is mergeable by plain
    union+distinct, so an incremental (micro-batched) build over dim
    halves equals the batch build over the whole dim — the property that
    lets the filter maintain itself under streaming dim updates."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.bloom import bloom_bits
    from pdf_etl_pipeline_spark.session import load_table

    dim = load_table(spark, sf_dir, "customer").filter(
        F2.col("c_mktsegment") == "BUILDING"
    )
    whole = {r.bit for r in bloom_bits(dim, "c_custkey").collect()}
    h1 = bloom_bits(dim.filter(F2.col("c_custkey") % 2 == 0), "c_custkey")
    h2 = bloom_bits(dim.filter(F2.col("c_custkey") % 2 == 1), "c_custkey")
    merged = {r.bit for r in h1.unionAll(h2).distinct().collect()}
    assert merged == whole and len(whole) > 0


def test_rolling_anomaly_hand_computed(spark):
    """rs5: a spike after a stable warmup is flagged with the hand-computed
    z; warmup rows (n < MIN_N) and stable rows are not flagged; the frame
    is strictly prior (the spike does not pollute its own score)."""
    import math

    from pdf_etl_pipeline_spark.operators.rolling_anomaly import rolling_anomalies

    # series g: 10 alternating 10/12 values, then a 100 spike
    vals = [10.0, 12.0] * 5 + [100.0]
    rows = [("g", i, v) for i, v in enumerate(vals)] + [("h", 0, 999.0)]
    df = spark.createDataFrame(rows, "k string, i long, value double")
    out = rolling_anomalies(df, "k", ["i"], "value", w_rows=32, min_n=8).collect()
    assert len(out) == 1 and out[0].k == "g" and out[0].i == 10
    # trailing window = the 10 warmup points: mean 11, sample std of
    # five 10s and five 12s = sqrt(10/9)
    std = math.sqrt(10 / 9)
    assert abs(out[0].z - round((100 - 11) / std, 6)) < 1.1e-6
    assert abs(out[0].mean_w - 11.0) < 1e-9
    # series h has a single row: empty prior frame, never scored


def test_silhouette_formula_on_planted_cells(spark, sf_dir):
    """ml5: vectors sitting exactly on their centroid score s=1, an
    equidistant vector scores s=0, and per-cell means follow."""
    import pdf_etl_pipeline_spark.catalog.similarity_q as SQ

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.7071067811865476, 0.7071067811865476]),  # equidistant
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell_id long, centroid array<double>"
    )
    orig_lt, orig_sc = SQ.load_table, SQ.shared_centroids
    SQ.load_table = lambda s, d, t: emb
    SQ.shared_centroids = lambda s, d: cents
    try:
        out = {r.cell_id: r for r in SQ.ml5_silhouette(spark, sf_dir).collect()}
    finally:
        SQ.load_table, SQ.shared_centroids = orig_lt, orig_sc
    # cell 0 holds vecs 0,1 (s=1 each) + the tie-broken 45-degree vec (s=0)
    assert out[0].n_vecs == 3 and abs(out[0].mean_sil - round(2 / 3, 6)) < 1.1e-6
    assert out[1].n_vecs == 1 and out[1].mean_sil == 1.0


@pytest.mark.slow
def test_ann_recall_monotone_in_nprobe(spark, sf_dir):
    """ss10: recall@5 lies in [0,1], every method/query cell is present,
    and IVF recall is monotone in nprobe — probing a superset of cells can
    only add candidates, and a candidate outscoring a true top-5 hit would
    itself be a global top-5 member, so hits never decrease."""
    from pdf_etl_pipeline_spark.catalog.similarity_q import ss10_ann_recall

    rows = ss10_ann_recall(spark, sf_dir).collect()
    assert len(rows) == 15  # 3 methods x 5 queries
    by = {(r.method, r.query_id): r for r in rows}
    for r in rows:
        assert 0.0 <= r.recall_at_5 <= 1.0 and r.n_hit == round(r.recall_at_5 * 5)
    for q in range(5):
        assert (
            by[("ivf_nprobe2", q)].recall_at_5 >= by[("ivf_nprobe1", q)].recall_at_5
        )


def test_constraint_audit_fail_closed_and_planted_violations(spark, sf_dir):
    """dq2: NULLs fail domain rules closed, uniqueness counts duplicate
    rows exactly, and the real corpus finding (lineitem composite key not
    unique) is present with a nonzero rate."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.catalog.quality_q import dq2_constraint_audit

    out = {r.rule: r for r in dq2_constraint_audit(spark, sf_dir).collect()}
    assert len(out) == 7
    for r in out.values():
        assert 0.0 <= r.violation_rate <= 1.0
        assert r.violation_rate == round(r.n_violations / r.n_rows, 6)
    # audits that can never fail audit nothing: this one genuinely fires
    assert out["lineitem.pk_orderkey_linenumber_unique"].n_violations > 0
    assert out["orders.o_orderkey_unique"].n_violations == 0
    # fail-closed semantics on a planted frame: NULL violates a range rule
    df = spark.createDataFrame([(None,), (5.0,), (-1.0,)], "x double")
    failed = df.agg(
        F2.sum(
            F2.when(~F2.coalesce(F2.col("x") > 0, F2.lit(False)), 1).otherwise(0)
        ).alias("v")
    ).collect()[0].v
    assert failed == 2  # NULL and -1, not the 5.0


def test_rolling_anomaly_chunk_halo_lever_exact(spark, sf_dir):
    """SCALE.md's rs5 parallelization lever, executed: splitting each
    series into chunks that carry a W-row halo from the previous chunk
    and scoring per (key, chunk) reproduces the global keyed-window
    result EXACTLY — the frame never reaches past W rows back, so the
    few-series sort bottleneck converts to arbitrary parallelism with no
    semantic change."""
    from pyspark.sql import Window, functions as F2

    from pdf_etl_pipeline_spark.operators.rolling_anomaly import (
        W_ROWS,
        rolling_anomalies,
    )
    from pdf_etl_pipeline_spark.session import load_events

    ev = load_events(spark, sf_dir).filter(F2.col("value").isNotNull())
    want = {
        (r.event_type, r.event_id): (r.mean_w, r.std_w, r.z)
        for r in rolling_anomalies(ev, "event_type", ["ts", "event_id"], "value").collect()
    }
    assert want  # the corpus does contain anomalies

    chunk_rows = 200  # well above W_ROWS
    idx = F2.row_number().over(
        Window.partitionBy("event_type").orderBy("ts", "event_id")
    )
    indexed = ev.withColumn("_i", idx).withColumn(
        "_chunk", ((F2.col("_i") - 1) / chunk_rows).cast("long")
    )
    # each chunk's own rows, plus the previous chunk's last W rows as halo
    halo = indexed.filter(
        ((F2.col("_i") - 1) % chunk_rows) >= chunk_rows - W_ROWS
    ).withColumn("_chunk", F2.col("_chunk") + 1)
    staged = indexed.unionByName(halo).withColumn(
        "_key", F2.concat_ws("#", "event_type", F2.col("_chunk"))
    )
    got_rows = rolling_anomalies(staged, "_key", ["ts", "event_id"], "value").collect()
    # keep only own-row scores (halo rows rescored in the next chunk have
    # truncated frames and exist solely to warm it)
    own_chunk = {
        (r.event_type, r.event_id): r._chunk
        for r in indexed.select("event_type", "event_id", "_chunk").collect()
    }
    flat = {}
    for r in got_rows:
        et, chunk = r._key.rsplit("#", 1)
        k = (et, r.event_id)
        if own_chunk[k] == int(chunk):
            flat[k] = (r.mean_w, r.std_w, r.z)
    assert flat == want


def test_cohens_kappa_hand_computed(spark, sf_dir):
    """ml6: textbook kappa on planted whole-vs-half labels, the degenerate
    single-label case yielding NULL, and a real-corpus value in [-1, 1]
    with genuine split-half disagreement."""
    import pdf_etl_pipeline_spark.catalog.extended_q as X

    real = X.ml6_cohens_kappa(spark, sf_dir).collect()[0]
    assert -1.0 <= real.kappa <= 1.0 and 0 < real.po <= 1

    en = "the and of to is in that it"   # 27 chars, 8 en markers
    fr = "le la les et de un une est"    # 26 chars, 8 fr markers
    # mixed doc: halves split exactly at the joining space, so the whole
    # doc ties en-vs-fr (priority -> en) while the second half is pure fr
    rows = (
        [(i, en + " " + en) for i in range(3)]   # a=en, b=en
        + [(3, fr + " " + fr)]                    # a=fr, b=fr
        + [(4, en + " " + fr), (5, en + " " + fr)]  # a=en, b=fr
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = X.load_table
    X.load_table = lambda s, d, t: docs
    try:
        out = X.ml6_cohens_kappa(spark, sf_dir).collect()[0]
    finally:
        X.load_table = orig
    # labels: a = en,en,en,fr,en,en ; b = en,en,en,fr,fr,fr
    # po = 4/6; marginals a: en 5 fr 1, b: en 3 fr 3
    # pe = (5*3 + 1*3)/36 = 1/2; kappa = (2/3 - 1/2)/(1/2) = 1/3
    assert out.n_docs == 6 and out.n_agree == 4
    assert abs(out.po - round(4 / 6, 6)) < 1.1e-6
    assert out.pe == 0.5
    assert abs(out.kappa - round(1 / 3, 6)) < 1.1e-6

    # degenerate: one label everywhere -> pe = 1 -> NULL kappa
    same = spark.createDataFrame(
        [(1, en + " " + en), (2, en + " " + en)], "doc_id long, text string"
    )
    X.load_table = lambda s, d, t: same
    try:
        deg = X.ml6_cohens_kappa(spark, sf_dir).collect()[0]
    finally:
        X.load_table = orig
    assert deg.kappa is None and deg.po == 1.0


def test_dq3_k_anonymity_hand_computed(spark, tmp_path):
    """dq3 on a hand-built event log: quasi-groups (type, date, hour) with
    sizes 5/2/1 -> k=1, two risky groups holding 3 of 8 rows."""
    import datetime as dt

    from pdf_etl_pipeline_spark.catalog.quality_q import dq3_k_anonymity

    def t(d, h):
        return dt.datetime(2024, 1, d, h, 30)

    rows = (
        [(i, t(1, 9), 1, "view", 1.0, "{}") for i in range(5)]       # size 5: safe
        + [(9, t(1, 10), 1, "view", 1.0, "{}"), (10, t(1, 10), 2, "view", 1.0, "{}")]  # size 2
        + [(11, t(2, 9), 1, "click", 1.0, "{}")]                      # size 1
    )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)
    r = dq3_k_anonymity(spark, str(tmp_path)).collect()[0]
    assert (r.n_groups, r.n_rows, r.k_anonymity) == (3, 8, 1)
    assert (r.n_risky_groups, r.n_risky_rows) == (2, 3)
    assert r.risky_row_frac == round(3 / 8, 6)


def test_rs6_seasonal_anomaly_semantics(spark, tmp_path):
    """rs6: a spike against an otherwise-flat hour-of-week cell is the one
    flagged anomaly; flat cells produce zero residuals; a cell with fewer
    than RS6_MIN_CELL observations abstains no matter how extreme."""
    import datetime as dt

    from pdf_etl_pipeline_spark.catalog.extended_q import RS6_MIN_CELL, rs6_seasonal_anomaly

    base = dt.datetime(2024, 1, 1, 9, 30)  # one fixed hour-of-week cell
    week = dt.timedelta(days=7)
    rows = []
    # type 'a': 8 weeks of value 10 + one 90 spike in the same cell
    for i in range(8):
        rows.append((i, base + i * week, 1, "a", 10.0, "{}"))
    rows.append((8, base + 8 * week, 1, "a", 90.0, "{}"))
    # same type, different cell, flat -> contributes ~zero residuals
    for i in range(9):
        rows.append((20 + i, base + dt.timedelta(hours=5) + i * week, 1, "a", 30.0, "{}"))
    # type 'b': only 4 observations in its cell (under MIN_CELL) with a
    # wild outlier -> must abstain entirely
    assert RS6_MIN_CELL > 4
    for i, v in enumerate([1.0, 1.0, 1.0, 500.0]):
        rows.append((40 + i, base + i * week, 2, "b", v, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = rs6_seasonal_anomaly(spark, str(tmp_path)).collect()
    assert [r.event_id for r in out] == [8]  # the spike, nothing else
    r = out[0]
    assert r.event_type == "a" and r.value == 90.0
    # cell mean (80+90)/9, residual 90 - mean
    assert r.seasonal_mean == round((8 * 10.0 + 90.0) / 9, 6)
    assert r.residual == round(90.0 - r.seasonal_mean, 6)
    assert r.z > 3


def test_ev4_twap_weights_by_holding_interval(spark, tmp_path):
    """ev4: value 10 held for 90 s then value 20 held for 10 s TWAPs to
    11.0 while the plain average says 15 — the exact case time weighting
    exists for; the day's last observation carries no forward interval
    (a single-observation day abstains with a null twap)."""
    import datetime as dt

    from pdf_etl_pipeline_spark.catalog.extended_q import ev4_twap

    base = dt.datetime(2024, 1, 1)
    rows = [
        # type a: 10 @ t=0 (held 90 s), 20 @ t=90 (held 10 s), 99 @ t=100 (last, dropped)
        (1, base, 1, "a", 10.0, "{}"),
        (2, base + dt.timedelta(seconds=90), 1, "a", 20.0, "{}"),
        (3, base + dt.timedelta(seconds=100), 1, "a", 99.0, "{}"),
        # type b: one observation -> no interval -> twap null
        (4, base, 1, "b", 5.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in ev4_twap(spark, str(tmp_path)).collect()}
    a = out["a"]
    assert a.n_obs == 3
    assert a.twap == round((10.0 * 90 + 20.0 * 10) / 100, 6)  # 11.0
    assert a.plain_avg == round((10.0 + 20.0 + 99.0) / 3, 6)
    b = out["b"]
    assert (b.n_obs, b.twap, b.plain_avg) == (1, None, 5.0)


def test_dq4_psi_drift_hand_computed(spark, tmp_path):
    """dq4: a total distribution shift (all mass moves from the bottom
    bucket to the top one) scores psi = (2/3)·ln 6 exactly under the
    10-bucket Laplace smoothing; identical halves score 0 and no drift."""
    import datetime as dt
    import math

    from pdf_etl_pipeline_spark.catalog.quality_q import dq4_distribution_drift

    base = dt.datetime(2024, 1, 1)
    mk = lambda rows, d: spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    # total shift: 5 ref rows at value 0, 5 cur rows at value 100
    d1 = tmp_path / "shift"; d1.mkdir()
    rows = [(i, base + dt.timedelta(seconds=i), 1, "y", 0.0, "{}") for i in range(5)]
    rows += [
        (10 + i, base + dt.timedelta(seconds=1000 + i), 1, "y", 100.0, "{}")
        for i in range(5)
    ]
    mk(rows, d1)
    r = dq4_distribution_drift(spark, str(d1)).collect()[0]
    assert (r.event_type, r.n_ref, r.n_cur) == ("y", 5, 5)
    # buckets {0, 9}: psi = 2 * (6/15 - 1/15) * ln(6) = (2/3) ln 6
    assert r.psi == round(2 * math.log(6) / 3, 6)
    assert r.drift

    # identical halves: every bucket has one row on each side -> psi 0
    d2 = tmp_path / "same"; d2.mkdir()
    rows = [
        (i, base + dt.timedelta(seconds=i), 1, "x", float(i + 1), "{}")
        for i in range(10)
    ]
    rows += [
        (100 + i, base + dt.timedelta(seconds=1000 + i), 1, "x", float(i + 1), "{}")
        for i in range(10)
    ]
    mk(rows, d2)
    r = dq4_distribution_drift(spark, str(d2)).collect()[0]
    assert (r.n_ref, r.n_cur, r.psi, r.drift) == (10, 10, 0.0, False)


def test_rs7_cusum_locates_planted_mean_shift(spark, tmp_path):
    """rs7: a clean 0→10 mean shift peaks |CUSUM| at the last pre-shift
    event with the exactly computable height n1·|mean1 − grand mean|; a
    constant series scores 0 with a null statistic (sd = 0 abstains)."""
    import datetime as dt
    import math

    from pdf_etl_pipeline_spark.catalog.extended_q import rs7_cusum_changepoint

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "a", 0.0 if i < 10 else 10.0, "{}")
        for i in range(20)
    ]
    rows += [
        (100 + i, base + dt.timedelta(minutes=i), 1, "b", 7.0, "{}") for i in range(6)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in rs7_cusum_changepoint(spark, str(tmp_path)).collect()}

    a = out["a"]
    # grand mean 5; C_t walks to -50 at event 9 (the last 0.0), back to 0
    assert (a.n, a.max_abs_cusum, a.changepoint_event_id) == (20, 50.0, 9)
    sd = math.sqrt((10 * 100.0 - 100.0**2 / 20) / 19)
    assert a.cusum_stat == round(50.0 / (sd * math.sqrt(20)), 6)

    b = out["b"]  # constant series: zero residuals everywhere, sd = 0
    assert (b.max_abs_cusum, b.cusum_stat, b.changepoint_event_id) == (0.0, None, 100)


def test_dp4_ks_total_shift_and_identical_halves(spark, tmp_path):
    """dp4: disjoint supports give D = 1.0 (reject); identical halves give
    D = 0.0 (no reject) — the exact endpoints of the statistic."""
    import datetime as dt

    from pdf_etl_pipeline_spark.catalog.quality_q import dp4_ks_drift

    base = dt.datetime(2024, 1, 1)
    mk = lambda rows, d: spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    d1 = tmp_path / "shift"; d1.mkdir()
    rows = [(i, base + dt.timedelta(seconds=i), 1, "y", 0.0, "{}") for i in range(5)]
    rows += [
        (10 + i, base + dt.timedelta(seconds=1000 + i), 1, "y", 100.0, "{}")
        for i in range(5)
    ]
    mk(rows, d1)
    r = dp4_ks_drift(spark, str(d1)).collect()[0]
    assert (r.n_ref, r.n_cur, r.ks_d, r.reject) == (5, 5, 1.0, True)

    d2 = tmp_path / "same"; d2.mkdir()
    rows = [
        (i, base + dt.timedelta(seconds=i), 1, "x", float(i % 5), "{}")
        for i in range(10)
    ]
    rows += [
        (100 + i, base + dt.timedelta(seconds=1000 + i), 1, "x", float(i % 5), "{}")
        for i in range(10)
    ]
    mk(rows, d2)
    r = dp4_ks_drift(spark, str(d2)).collect()[0]
    assert (r.n_ref, r.n_cur, r.ks_d, r.reject) == (10, 10, 0.0, False)


def test_two_relation_drift_specializes_to_dq4_dp4(spark):
    """The r12 generalization contract: feeding the two-relation drift
    fragments (psi_drift_df / ks_drift_df) with reference == the first
    epoch half and current == the second reproduces dq4 / dp4's output
    row for row — the epoch-half queries are exact specializations of
    the snapshot form."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.catalog.quality_q import (
        dp4_ks_drift,
        dq4_distribution_drift,
        ks_drift_df,
        psi_drift_df,
    )
    from pdf_etl_pipeline_spark.session import load_events

    sf = "/root/testdata/sf0.001"
    ev = (
        load_events(spark, sf)
        .filter(F2.col("value").isNotNull())
        .select("event_type", "value", F2.unix_timestamp("ts").alias("es"))
    )
    mid = ev.agg(
        F2.floor((F2.min("es") + F2.max("es")) / 2.0).cast("long").alias("mid")
    )
    evm = ev.crossJoin(F2.broadcast(mid))
    ref = evm.filter(F2.col("es") < F2.col("mid")).select("event_type", "value")
    cur = evm.filter(F2.col("es") >= F2.col("mid")).select("event_type", "value")

    assert sorted(map(tuple, psi_drift_df(ref, cur).collect())) == sorted(
        map(tuple, dq4_distribution_drift(spark, sf).collect())
    )
    assert sorted(map(tuple, ks_drift_df(ref, cur).collect())) == sorted(
        map(tuple, dp4_ks_drift(spark, sf).collect())
    )


def test_ev4_twap_cross_engine_pre_1970(spark, tmp_path):
    """ev4's (event_type, epoch-day) cell must agree between Spark and the
    DuckDB oracle for PRE-1970 timestamps: both engines must FLOOR the
    epoch/86400 division. DuckDB's `//` truncates toward zero, so epoch
    -86401 would land in day -1 there but day -2 under floor — shifting
    the lead() partition and producing divergent twap/n_obs (the rs6
    lesson, applied to the day grid)."""
    import datetime as dt

    import duckdb

    from pdf_etl_pipeline_spark.catalog import load_registry

    epochs_values = [
        (-86401, 4.0),  # 1969-12-30T23:59:59 -> day -2 under floor, -1 under trunc
        (-86400, 6.0),  # exact day -1 boundary (floor == trunc here)
        (-86395, 8.0),
        (-10, 1.0),
        (-5, 3.0),
        (0, 10.0),
        (7, 20.0),
        (86399, 30.0),
    ]
    base = dt.datetime(1970, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=es), 1, "t", v, "{}")
        for i, (es, v) in enumerate(epochs_values)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    spec = load_registry()["ev4_twap"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    want = con.execute(spec.oracle).fetchdf()

    # day -2 must exist on BOTH engines; truncate-toward-zero on either
    # side would merge its lone observation into day -1
    assert list(got["day_num"]) == [-2, -1, 0]
    assert list(want["day_num"]) == [-2, -1, 0]
    assert list(got["n_obs"]) == [1, 4, 3] == list(want["n_obs"])
    # the single-obs day has no forward interval: twap NULL, plain_avg = value
    assert got["twap"].isna().iloc[0] and want["twap"].isna().iloc[0]
    assert got["plain_avg"].iloc[0] == 4.0 == want["plain_avg"].iloc[0]
    # value parity on every remaining cell
    for c in ("twap", "plain_avg"):
        assert list(got[c].fillna(-1).round(6)) == list(want[c].fillna(-1).round(6)), c


def test_rs6_hour_of_week_cell_cross_engine_pre_1970(spark):
    """The hour-of-week cell must agree between Spark and the DuckDB
    oracle for PRE-1970 timestamps too: both engines floor the
    fractional-seconds epoch toward -inf and take a positive modulo.
    (date_diff('hour', ...) truncates toward zero before the epoch, and
    bare % is sign-preserving in both engines — either slip silently
    splits historical events across different cells.)"""
    import duckdb
    from pyspark.sql import functions as F2

    # epoch-second offsets straddling hour/week boundaries on both sides,
    # including fractional seconds just before a boundary
    offsets = [
        -605000.0, -604800.0, -604799.5, -3601.0, -3600.0, -1800.0, -0.5,
        0.0, 0.5, 1800.0, 3599.5, 3600.0, 604800.0, 1700000000.25,
    ]
    spark_rows = (
        spark.createDataFrame([(o,) for o in offsets], "off double")
        .select(
            "off",
            F2.pmod(
                F2.floor(
                    (F2.timestamp_seconds("off")).cast("double") / 3600
                ).cast("long"),
                F2.lit(168),
            ).alias("how"),
        )
        .collect()
    )
    duck = dict(
        duckdb.connect()
        .execute(
            """
            SELECT o,
                   ((CAST(floor(epoch(to_timestamp(o)) / 3600) AS BIGINT)
                     % 168) + 168) % 168 AS how
            FROM (SELECT unnest(?) AS o)""",
            [offsets],
        )
        .fetchall()
    )
    for r in spark_rows:
        assert 0 <= r.how < 168
        assert r.how == duck[r.off], (r.off, r.how, duck[r.off])

def test_dq6_chi2_drift_hand_computed(spark, tmp_path):
    """dq6: planted type mixes with a hand-derived chi-square — shifted
    mix rejects, identical mix reads 0, single-type data abstains
    (dof 0)."""
    import datetime as dt

    from pdf_etl_pipeline_spark.catalog.quality_q import (
        DQ6_Z_05,
        dq6_categorical_drift,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda rows, d: spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    # ref (first half): a x10, b x10; cur (second half): a x10, b x40
    d1 = tmp_path / "shift"; d1.mkdir()
    # ref (es < mid ~ 819): seconds 0..19; cur: seconds 1500..1639
    rows = [(i, base + dt.timedelta(seconds=i), 1, "a", 1.0, "{}") for i in range(10)]
    rows += [(20 + i, base + dt.timedelta(seconds=10 + i), 1, "b", 1.0, "{}") for i in range(10)]
    rows += [(100 + i, base + dt.timedelta(seconds=1500 + i), 1, "a", 1.0, "{}") for i in range(10)]
    rows += [(200 + i, base + dt.timedelta(seconds=1600 + i), 1, "b", 1.0, "{}") for i in range(40)]
    mk(rows, d1)
    r = dq6_categorical_drift(spark, str(d1)).collect()[0]
    # hand (N_ref=20, N_cur=50, N=70):
    #   a (10 vs 10, nt=20): e_r=40/7, e_c=100/7 -> term 4.5
    #   b (10 vs 40, nt=50): e_r=100/7, e_c=250/7 -> term 1.8
    term_a = (10 - 40 / 7) ** 2 / (40 / 7) + (10 - 100 / 7) ** 2 / (100 / 7)
    term_b = (10 - 100 / 7) ** 2 / (100 / 7) + (40 - 250 / 7) ** 2 / (250 / 7)
    want = round(round(term_a, 12) + round(term_b, 12), 6)
    assert (r.n_types, r.n_ref, r.n_cur, r.dof) == (2, 20, 50, 1)
    assert r.chi2 == want == 6.3
    wh = 1 * (1 - 2 / 9 + DQ6_Z_05 * (2 / 9) ** 0.5) ** 3
    assert r.crit_05 == round(wh, 6) and bool(r.reject)

    # identical halves: chi2 = 0, no reject
    d2 = tmp_path / "same"; d2.mkdir()
    rows = [(i, base + dt.timedelta(seconds=i), 1, ("a", "b")[i % 2], 1.0, "{}") for i in range(20)]
    rows += [
        (100 + i, base + dt.timedelta(seconds=1000 + i), 1, ("a", "b")[i % 2], 1.0, "{}")
        for i in range(20)
    ]
    mk(rows, d2)
    r = dq6_categorical_drift(spark, str(d2)).collect()[0]
    assert (r.chi2, bool(r.reject)) == (0.0, False)

    # single type: dof 0 -> the test abstains rather than dividing by zero
    d3 = tmp_path / "one"; d3.mkdir()
    rows = [(i, base + dt.timedelta(seconds=i), 1, "only", 1.0, "{}") for i in range(10)]
    rows += [(100 + i, base + dt.timedelta(seconds=1000 + i), 1, "only", 1.0, "{}") for i in range(10)]
    mk(rows, d3)
    r = dq6_categorical_drift(spark, str(d3)).collect()[0]
    assert (r.n_types, r.dof, r.crit_05, r.reject) == (1, 0, None, None)

def test_dq7_embedding_drift_hand_computed(spark, tmp_path):
    """dq7: planted 2-dim centroids — a label whose centroid rotates 90
    degrees reads cos 0 / shift sqrt(2) / drift; an unmoved label reads
    cos 1 / shift 0; a label missing from one half is excluded."""
    from pdf_etl_pipeline_spark.catalog.quality_q import dq7_embedding_drift

    # split = (max_id + 1) // 2 = 5: ids 0-4 ref, 5-9 cur
    rows = [
        (0, [1.0, 0.0], 1), (1, [1.0, 0.0], 1),     # ref centroid A = (1, 0)
        (2, [0.0, 2.0], 2), (3, [0.0, 2.0], 2),     # ref centroid B = (0, 2)
        (4, [3.0, 3.0], 3),                          # label 3 only in ref
        (5, [0.0, 1.0], 1), (6, [0.0, 1.0], 1),     # cur centroid A = (0, 1): rotated
        (7, [0.0, 2.0], 2), (8, [0.0, 2.0], 2),     # cur centroid B unmoved
        (9, [9.0, 9.0], 4),                          # label 4 only in cur
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {r.label: r for r in dq7_embedding_drift(spark, str(tmp_path)).collect()}

    assert set(got) == {1, 2}  # one-sided labels excluded
    a = got[1]
    assert (a.n_ref, a.n_cur) == (2, 2)
    assert a.centroid_cos == 0.0 and a.drift
    assert a.centroid_l2_shift == round(2 ** 0.5, 6)
    b = got[2]
    assert (b.centroid_cos, b.centroid_l2_shift, bool(b.drift)) == (1.0, 0.0, False)


def test_clustering_coefficients_known_graphs(spark):
    """g3: K4 nodes all have coefficient 1.0; a star center has 0 over
    C(49,2) pairs; a triangle-with-tail distinguishes the tail node
    (deg 1 — excluded) from the bridge (deg 3, coeff 1/3)."""
    from pdf_etl_pipeline_spark.operators.triangles import clustering_coefficients

    def cc(pairs):
        df = spark.createDataFrame(pairs, "u long, v long")
        return {r.node: r for r in clustering_coefficients(df).collect()}

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = cc(k4)
    assert all(got[n].clustering_coeff == 1.0 and got[n].n_triangles == 3 for n in range(4))
    star = [(0, i) for i in range(1, 50)]
    got = cc(star)
    assert got[0].clustering_coeff == 0.0 and got[0].n_triangles == 0
    assert set(got) == {0}  # leaves have deg 1 -> excluded
    # triangle 0-1-2 with a tail 2-3: node 2 has deg 3, one triangle of 3 pairs
    tri_tail = [(0, 1), (1, 2), (0, 2), (2, 3)]
    got = cc(tri_tail)
    assert got[2].clustering_coeff == round(1 / 3, 6)
    assert got[0].clustering_coeff == 1.0
    assert 3 not in got


def test_inter_event_gaps_planted(spark, tmp_path):
    """ev5: gaps are PER (user, event_type) — interleaved other-type and
    other-user events must not contribute; percentiles are exact."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.catalog import load_registry

    rows = [
        # user 1 clicks at t=0, 10, 30 -> gaps 10, 20
        (1, "2024-01-01 00:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 00:00:10", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 00:00:30", 1, "click", 1.0, "{}"),
        # interleaved view by user 1 and click by user 2: no effect
        (4, "2024-01-01 00:00:05", 1, "view", 1.0, "{}"),
        (5, "2024-01-01 00:00:07", 2, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in load_registry()["ev5_inter_event_gaps"].fn(spark, str(tmp_path)).collect()}
    assert out["click"].n_gaps == 2
    assert out["click"].p50_gap_s == 15.0  # exact continuous median of {10, 20}
    assert out["click"].max_gap_s == 20
    assert "view" not in out  # single event -> no gap row


def test_phrase_topk_alignment(spark):
    """ir2: exact-phrase matching via anchor votes — repeated terms need
    BOTH offsets at one anchor (a lone token is not 'batch batch');
    overlapping occurrences each count; phrase must be contiguous."""
    from pdf_etl_pipeline_spark.llmdata.retrieval import phrase_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # has "alpha beta"
            (2, "alpha delta beta"),          # non-contiguous -> no match
            (3, "rep rep rep"),               # 2 overlapping "rep rep"
            (4, "rep solo words here"),       # single rep -> no "rep rep"
            (5, "x alpha beta y alpha beta"), # 2 occurrences
        ],
        "doc_id long, text string",
    )
    out = phrase_topk(docs, {1: ["alpha", "beta"], 2: ["rep", "rep"]}, k=5).collect()
    got = {(r.query_id, r.doc_id): (r.n_occurrences, r.first_pos, r.rank) for r in out}
    assert got[(1, 5)] == (2, 1, 1)   # two occurrences, first at token 1
    assert got[(1, 1)] == (1, 0, 2)
    assert (1, 2) not in got
    assert got[(2, 3)] == (2, 0, 1)   # overlapping
    assert (2, 4) not in got


def test_nb_auc_separable_and_ties(spark):
    """ml8: the AUC machinery on a hand-checkable corpus — separable
    classes score ~1.0; every class's AUC is within [0,1]; tie-averaged
    ranks keep the identity sum(r) = n(n+1)/2 per class."""
    from pdf_etl_pipeline_spark.llmdata.classify import nb_one_vs_rest_auc

    rows = [(i, "alpha beta gamma", "en") for i in range(8)]
    rows += [(i + 8, "uno dos tres", "es") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in nb_one_vs_rest_auc(docs).collect()}
    assert set(out) == {"en", "es"}
    for r in out.values():
        assert r.n_pos == 8 and r.n_neg == 8
        assert r.auc == 1.0  # fully separable vocab -> perfect ranking
    # constant scorer: identical docs in both classes -> all scores tie -> 0.5
    rows = [(i, "same words here", "en") for i in range(4)]
    rows += [(i + 4, "same words here", "es") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in nb_one_vs_rest_auc(docs).collect()}
    # scores differ only by prior, equal priors -> all tied -> exactly 0.5
    assert all(r.auc == 0.5 for r in out.values())
