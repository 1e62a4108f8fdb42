"""Tests for dedup operators: exact, MinHash-LSH vs brute-force Jaccard
ground truth, SimHash, connected components, embedding near-dup recall."""

from __future__ import annotations

import itertools
import math

from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark.operators.dedup import (
    attach_simhash,
    candidate_pairs,
    char_ngrams,
    connected_components,
    drop_near_dups,
    embedding_near_dup_pairs,
    exact_dedup_keep_min,
    jaccard,
    lsh_band_table,
    minhash_near_dup_pairs,
    portable_minhash_signatures,
    simhash_near_dup_pairs,
    word_shingles,
    word_shingles_flat,
)


def _md5_signatures(df, num_hashes):
    """(doc_id, __sig) md5-lane MinHash signatures of word 3-shingles --
    the same flat digest table minhash_near_dup_pairs signs."""
    flat = word_shingles_flat(df, "doc_id", "text", 3).select(
        "doc_id", F.md5("__s").alias("__h")
    )
    return portable_minhash_signatures(flat, "doc_id", num_hashes)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, base.replace("quick", "slow")),  # near-dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "another unrelated document discussing credit union financial reports"),
        (6, base),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keep_min(spark):
    out = exact_dedup_keep_min(_docs(spark), "doc_id", "text")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 2, 3, 4, 5]  # 6 dropped (exact dup of 1)


def test_minhash_finds_near_dups_and_matches_bruteforce(spark):
    df = _docs(spark)
    pairs = minhash_near_dup_pairs(df, threshold=0.5, num_hashes=32, bands=16)
    got = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs.collect()}
    # brute-force ground truth on exact shingle jaccard
    sh = {
        r.doc_id: set(r.sh)
        for r in df.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    }
    truth = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= 0.5:
            truth.add((a, b))
    # LSH must find every true pair here (high-sim pairs, 16 bands of 2)
    assert truth <= set(got)
    # and verification must have removed any false positives below threshold
    assert set(got) <= truth


def test_minhash_md5_lane_matches_xxhash_semantics(spark):
    """The md5 lane keeps the semantics the retired xxhash64 lane had:
    signatures only pick candidates, verification is exact Jaccard on
    the full shingle-digest sets, so every reported sim is the
    brute-force shingle Jaccard, floor-truncated at 1e-6."""
    df = _docs(spark)
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in minhash_near_dup_pairs(
            df, threshold=0.5, num_hashes=32, bands=16
        ).collect()
    }
    sh = {
        r.doc_id: set(r.sh)
        for r in df.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    }
    assert got
    for (a, b), sim in got.items():
        n_inter, n_union = len(sh[a] & sh[b]), len(sh[a] | sh[b])
        assert sim == math.floor(n_inter * 1000000 / n_union) / 1000000
    # so the reported sim for the exact-dup pair is 1.0
    assert got[(1, 6)] == 1.0


def test_minhash_jaccard_estimates_true_jaccard(spark):
    df = _docs(spark)
    sigs = _md5_signatures(df, 128).collect()
    sh = {
        r.doc_id: set(r.sh)
        for r in df.select("doc_id", word_shingles(F.col("text")).alias("sh")).collect()
    }
    sig = {r.doc_id: r["__sig"] for r in sigs}
    true_j = len(sh[1] & sh[2]) / len(sh[1] | sh[2])
    est_j = sum(a == b for a, b in zip(sig[1], sig[2])) / 128
    assert abs(true_j - est_j) < 0.15


def test_drop_near_dups_greedy(spark):
    df = _docs(spark)
    pairs = minhash_near_dup_pairs(df, threshold=0.5, num_hashes=32, bands=16)
    kept = drop_near_dups(df, pairs, "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert 1 in ids and 4 in ids and 5 in ids
    assert 6 not in ids  # exact dup dropped


def test_connected_components_labels_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (7, 8, 1.0)], "id_a long, id_b long, sim double"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[8] == 7


def test_simhash_similar_docs_close(spark):
    df = _docs(spark)
    sigs = {r.doc_id: r["__sim"] for r in attach_simhash(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(sigs[1], sigs[6]) == 0  # identical text
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[4])  # near-dup closer than unrelated


def test_simhash_near_dup_pairs_pigeonhole(spark):
    df = _docs(spark)
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dup_pairs(df, max_hamming=10, chunks=16).collect()}
    assert (1, 6) in pairs and pairs[(1, 6)] == 0
    # pigeonhole completeness: every pair within the radius is found
    sigs = {r.doc_id: r["__sim"] for r in attach_simhash(df, "doc_id", "text").collect()}
    truth = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        ham = bin(sigs[a] ^ sigs[b]).count("1")
        if ham <= 10:
            truth[(a, b)] = ham
    assert pairs == truth


def test_char_ngram_jaccard(spark):
    df = spark.createDataFrame([(1, "abcdefgh"), (2, "abcdefgx")], "doc_id long, text string")
    g = df.select("doc_id", char_ngrams(F.col("text"), 3).alias("g"))
    a = g.filter("doc_id=1").select(F.col("g").alias("ga"))
    b = g.filter("doc_id=2").select(F.col("g").alias("gb"))
    j = a.crossJoin(b).select(jaccard(F.col("ga"), F.col("gb")).alias("j")).first().j
    # 6 trigrams each, 5 shared -> 5/7
    assert abs(j - 5 / 7) < 1e-9


def test_embedding_near_dup_recall_vs_bruteforce(spark):
    import random

    rng = random.Random(7)
    vecs = []
    for i in range(40):
        vecs.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # plant 5 near-copies
    for i in range(5):
        base = vecs[i][1]
        vecs.append((100 + i, [x * 1.02 + 0.001 for x in base]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(df, threshold=0.98, n_planes=16, dim=16, max_hamming=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, 100 + i) for i in range(5)} <= got


def test_lsh_band_table_shape(spark):
    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    bt = lsh_band_table(_md5_signatures(df, 32), "doc_id", "__sig", bands=8)
    assert bt.count() == 8
    assert bt.columns == ["doc_id", "band_id", "band_hash"]
    # same doc twice -> candidate pair found
    two = df.union(spark.createDataFrame([(2, "a b c d e f g h")], "doc_id long, text string"))
    cp = candidate_pairs(
        lsh_band_table(_md5_signatures(two, 32), "doc_id", "__sig", 8), "doc_id"
    ).collect()
    assert [(r.id_a, r.id_b) for r in cp] == [(1, 2)]


def test_incremental_near_dups_matches_full_run(spark, sf_dir):
    # the index/delta split finds exactly the cross pairs of the
    # monolithic run (the q335 streaming replay grade rests on this)
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        build_minhash_index,
        incremental_near_dup_pairs,
    )
    from bankcreditunion_datapipeline_spark.sources.files import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)   # "corpus"
    delta = docs.filter(F.col("doc_id") % 2 == 1)      # "today's arrivals"
    index = build_minhash_index(existing).persist()
    inc = incremental_near_dup_pairs(delta, index)
    inc_pairs = {frozenset((r.new_id, r.index_id)) for r in inc.collect()}
    # ground truth: full-corpus run restricted to (odd, even) cross pairs
    full = minhash_near_dup_pairs(docs)
    cross = {
        frozenset((r.id_a, r.id_b))
        for r in full.collect()
        if (r.id_a % 2) != (r.id_b % 2)
    }
    assert inc_pairs == cross
    assert len(inc_pairs) > 0  # fixture contains cross near-dups


def test_incremental_near_dups_md5_lane_matches_full_run(spark, sf_dir):
    # the same index/delta split at the small (16 hashes, 8 bands) md5
    # family the SQL replay of q335 runs
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        build_minhash_index,
        incremental_near_dup_pairs,
    )
    from bankcreditunion_datapipeline_spark.sources.files import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    index = build_minhash_index(existing, num_hashes=16).persist()
    inc = incremental_near_dup_pairs(delta, index, num_hashes=16, bands=8)
    inc_pairs = {frozenset((r.new_id, r.index_id)) for r in inc.collect()}
    full = minhash_near_dup_pairs(docs, num_hashes=16, bands=8)
    cross = {
        frozenset((r.id_a, r.id_b))
        for r in full.collect()
        if (r.id_a % 2) != (r.id_b % 2)
    }
    assert inc_pairs == cross
    assert len(inc_pairs) > 0


def test_minhash_survives_null_text(spark):
    """NULL and empty text contribute no shingle rows, so they get no
    signature and no pairs, and the pipeline still pairs the identical
    docs."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, None), (4, "")],
        "doc_id long, text string",
    )
    shingled = {r.doc_id for r in word_shingles_flat(df, "doc_id", "text", 3).collect()}
    assert shingled == {1, 2}        # NULL / empty text -> no shingle rows
    sigs = {r["doc_id"]: r["__sig"] for r in _md5_signatures(df, 16).collect()}
    assert set(sigs) == {1, 2}
    assert sigs[1] == sigs[2]        # identical docs agree
    assert len(sigs[1]) == 16
    # end-to-end: the full pipeline still finds the (1,2) pair and no
    # pair touches the NULL or empty doc
    pairs = {(r.id_a, r.id_b) for r in
             minhash_near_dup_pairs(df, threshold=0.5, num_hashes=16, bands=8).collect()}
    assert pairs == {(1, 2)}


def test_incremental_exact_dedup_vs_index(spark):
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        content_digests,
        incremental_exact_dedup,
    )

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "beta"),   # already indexed -> dropped
            (11, "gamma"),  # fresh, first of an intra-delta dup pair
            (12, "gamma"),  # intra-delta dup -> dropped (keep-min)
            (13, "delta"),  # fresh, unique
            (14, None),     # NULL content never matches the index -> kept
        ],
        ["doc_id", "text"],
    )
    idx = content_digests(old)
    assert idx.count() == 2  # alpha, beta (NULL-free distinct digests)
    out = incremental_exact_dedup(new, idx, "doc_id", "text")
    assert sorted(r.doc_id for r in out.collect()) == [11, 13, 14]
    assert out.columns == new.columns


def test_semantic_dedup_cluster_blocked(spark):
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        semantic_dedup_keep,
        semantic_dedup_pairs,
    )

    rows = [
        # cluster 0: 1 and 2 are near-identical, 3 is orthogonal-ish
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        # cluster 1: 4 duplicates 1's direction but is in another cluster
        # -> NEVER compared against 1 (blocking is strict)
        (4, [1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = semantic_dedup_pairs(df, threshold=0.95).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.cosine_sim >= 0.95 for r in pairs)
    kept = sorted(
        r.vec_id for r in semantic_dedup_keep(df, threshold=0.95).collect()
    )
    assert kept == [1, 3, 4, 5]  # 2 dropped; 4 survives via cluster blocking


def test_semantic_dedup_pairs_builds_without_a_job(spark):
    # building the plan is lazy: no width probe or other action runs
    # before the caller's own action
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        semantic_dedup_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.999, 0.01], 0)],
        ["vec_id", "embedding", "label"],
    )
    sc = spark.sparkContext
    sc.setJobGroup("semantic-dedup-build", "plan construction only")
    try:
        semantic_dedup_pairs(df, threshold=0.95)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("semantic-dedup-build") == []


def test_ngram_jaccard_pairs_identical_and_disjoint(spark):
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # doc 7 shares no character 5-gram with any other doc; the NULL-text
    # docs 8 and 9 have no n-grams, so they pair with nothing
    extra = spark.createDataFrame(
        [(7, "0123 4567 8901 2345 6789"), (8, None), (9, None)],
        "doc_id long, text string",
    )
    threshold = 0.6
    pairs = ngram_jaccard_pairs(
        _docs(spark).union(extra), threshold=threshold
    ).collect()
    sims = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs}
    assert sims[(1, 6)] == 1.0  # identical docs
    assert not any({7, 8, 9} & set(pair) for pair in sims)
    assert all(s >= threshold for s in sims.values())
    # every reported sim is the exact character-5-gram Jaccard
    grams = {
        r.doc_id: set(r.g)
        for r in _docs(spark).select("doc_id", char_ngrams(F.col("text"), 5).alias("g")).collect()
    }
    for (a, b), sim in sims.items():
        want = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
        assert sim == round(want, 6), (a, b)


def test_connected_components_star_matches_propagation(spark):
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    cases = {
        "chain": [(i, i + 1) for i in range(1, 12)],          # diameter 11
        "star": [(1, i) for i in range(2, 9)],
        "two_comps": [(1, 2), (2, 3), (10, 11), (12, 11)],
        "triangle_plus_isolated_pair": [(5, 6), (6, 7), (5, 7), (100, 99)],
        "dup_edges_both_orders": [(2, 1), (1, 2), (3, 2), (2, 3)],
    }
    for name, pairs in cases.items():
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        star = {
            (r.id, r.component)
            for r in connected_components_star(df).collect()
        }
        prop = {
            (r.id, r.component) for r in connected_components(df).collect()
        }
        assert star == prop, name
        # labels are component minima
        for node, comp in star:
            assert comp <= node, name


def test_cc_driver_fast_path_matches_distributed(spark, monkeypatch):
    """r15: both CC operators take a driver union-find fast path below
    the edge budget. Forcing the budget to -1 disables it; labels must
    be IDENTICAL either way on every graph shape (including a random
    graph and a deep chain)."""
    import random

    from bankcreditunion_datapipeline_spark.operators import dedup

    rng = random.Random(7)
    cases = {
        "chain": [(i, i + 1) for i in range(1, 40)],
        "random": [
            (rng.randrange(60), rng.randrange(60)) for _ in range(150)
        ],
        "self_pairs": [(3, 3), (4, 5)],
        "two_comps": [(1, 2), (2, 3), (10, 11), (12, 11)],
    }
    for name, pairs in cases.items():
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        for fn in (dedup.connected_components, dedup.connected_components_star):
            fast = {(r.id, r.component) for r in fn(df).collect()}
            monkeypatch.setattr(dedup, "DRIVER_CC_BUDGET_EDGES", -1)
            slow = {(r.id, r.component) for r in fn(df).collect()}
            monkeypatch.undo()
            assert fast == slow, (name, fn.__name__)


def test_exact_jaccard_pairs_matches_bruteforce_with_singletons(spark):
    """The singleton-gram prune must be lossless: corpus built so MOST
    grams are hapax (each doc carries unique filler words) yet the two
    near-dup docs still exceed the threshold. Expected pairs computed by
    a Python set brute force over the same word-3-gram definition."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    texts = {
        "d1": "the quick brown fox jumps over the lazy dog tonight",
        "d2": "the quick brown fox jumps over the lazy dog today",
        "d3": "completely unrelated filler alpha beta gamma delta epsilon",
        "d4": "another orthogonal document zeta eta theta iota kappa",
        "d5": "short one",  # < 3 words -> zero grams
    }

    def grams(s: str) -> set[str]:
        w = s.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()

    expected = set()
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = grams(texts[a]), grams(texts[b])
            if not ga or not gb:
                continue
            inter, union = len(ga & gb), len(ga | gb)
            if 100 * inter >= 35 * union:
                expected.add((a, b, inter, union))

    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id string, text string"
    )
    got = {
        (r.id_a, r.id_b, r.n_inter, r.n_union)
        for r in exact_jaccard_pairs(df, "doc_id", "text").collect()
    }
    assert got == expected and len(expected) == 1


def test_exact_jaccard_singleton_prune_shrinks_join_input(spark, sf_dir):
    """Evidence the prune matters: on the documents table the self-join
    input (posting rows for grams with doc-frequency >= 2) must be a
    strict subset of all distinct (doc, gram) rows."""
    from pyspark.sql import functions as F
    from bankcreditunion_datapipeline_spark.sources.files import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, 3))))
        ).alias("gh"),
    ).distinct()
    total = grams.count()
    multi = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .join(grams, "gh")
        .count()
    )
    assert multi < total, (multi, total)


def test_exact_jaccard_max_doc_freq_caps_hot_grams(spark):
    """Stop-gram cap: with max_doc_freq set, pairs connected only through
    hot grams disappear and surviving similarities never increase
    (documented lower-bound semantics)."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    # 'common ground here' appears in ALL docs (df=4); d1/d2 also share a
    # private gram pair, d3/d4 share ONLY the hot gram
    rows = [
        ("d1", "common ground here with shared private tail words"),
        ("d2", "common ground here with shared private tail sequel"),
        ("d3", "common ground here plus alpha beta gamma"),
        ("d4", "common ground here minus delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = {
        (r.id_a, r.id_b): r.n_inter
        for r in exact_jaccard_pairs(
            df, threshold_num=1, threshold_den=100
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.n_inter
        for r in exact_jaccard_pairs(
            df, threshold_num=1, threshold_den=100, max_doc_freq=3
        ).collect()
    }
    assert set(capped) < set(uncapped)
    assert ("d3", "d4") in uncapped and ("d3", "d4") not in capped
    for pair, n_inter in capped.items():
        assert n_inter <= uncapped[pair]


def test_word_shingles_flat_matches_array_form(spark):
    """The relational shingle builder (posexplode + lead window) emits
    exactly the distinct shingle strings word_shingles produces, across
    the n>=k, 0<n<k, empty, whitespace-only, and NULL-text regimes."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        word_shingles_flat,
    )

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "two words"),
        (3, "one"),
        (4, ""),
        (5, "   \t  "),
        (6, None),
        (7, "a b c a b c a b c"),  # duplicate shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flat = {
        (r["doc_id"], r["__s"])
        for r in word_shingles_flat(df, "doc_id", "text", 3).collect()
    }
    want = set()
    for r in df.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("sh")
    ).collect():
        for s in r.sh or []:
            want.add((r.doc_id, s))
    # distinct flat shingles == the array form exactly (flat may repeat
    # a shingle; the set of (doc, shingle) pairs must be identical)
    assert flat == want


def test_simhash_md5_lane_is_60_bit_and_finds_exact_dups(spark):
    df = _docs(spark)
    sigs = {
        r["doc_id"]: r["__sim"]
        for r in attach_simhash(df, "doc_id", "text", "__sim").collect()
    }
    assert all(0 <= s < (1 << 60) for s in sigs.values())  # 60-bit positive
    assert sigs[1] == sigs[6]  # identical text -> identical signature
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(df, max_hamming=3, chunks=4).collect()
    }
    assert pairs[(1, 6)] == 0


def test_near_dup_operators_have_one_lane():
    """md5 is the only near-dup hash lane: no operator takes an option
    that selects another hash, token hasher, band hasher or width."""
    import inspect

    from bankcreditunion_datapipeline_spark.operators import dedup
    from bankcreditunion_datapipeline_spark.streaming.incremental import (
        streaming_release_ingest,
    )

    lane_options = {"hash", "token_hasher", "bits", "band_hasher", "near_dup_hash"}
    for fn in (
        dedup.minhash_near_dup_pairs,
        dedup.simhash_near_dup_pairs,
        dedup.build_minhash_index,
        dedup.incremental_near_dup_pairs,
        dedup.attach_simhash,
        dedup.lsh_band_table,
        streaming_release_ingest,
    ):
        params = set(inspect.signature(fn).parameters)
        assert not params & lane_options, (fn.__name__, params & lane_options)


def test_exact_jaccard_pair_row_budget_guard(spark):
    """One synthetic hot gram: the default guard must abort the self-join
    at execution with an actionable message instead of generating O(m^2)
    rows; under budget the results are exact and unchanged; max_doc_freq
    caps the hot gram back under budget."""
    import pytest
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    # 60 docs all sharing one hot 3-gram ("common shared prefix"), plus
    # unique tails: the hot gram alone contributes 60*59/2 = 1770 pairs
    rows = [
        (i, f"common shared prefix unique{i} tail{i} word{i}") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    with pytest.raises(Exception, match="pair rows"):
        exact_jaccard_pairs(
            df, threshold_num=1, threshold_den=100, max_pair_rows=1000
        ).count()

    # same corpus, budget satisfied: exact results flow
    ok = exact_jaccard_pairs(
        df, threshold_num=1, threshold_den=100, max_pair_rows=10_000
    )
    assert ok.count() == 60 * 59 // 2  # every pair shares the hot gram

    # stop-gram cap removes the hot gram -> under the small budget again,
    # and no pair survives (their only shared gram was capped)
    capped = exact_jaccard_pairs(
        df,
        threshold_num=1,
        threshold_den=100,
        max_doc_freq=10,
        max_pair_rows=1000,
    )
    assert capped.count() == 0


def test_winnowing_locality_guarantee_and_selectivity(spark):
    """The MOSS guarantee: two documents sharing a run of window+k-1
    tokens MUST share at least one selected fingerprint. And winnowing
    must select strictly fewer fingerprints than there are k-grams."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        fingerprint_overlap_pairs,
        winnow_fingerprints,
        word_shingles_flat,
    )

    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 = window+k-1 tokens
    rows = [
        (1, f"one two three {shared_run} four five six seven"),
        (2, f"red green blue {shared_run} yellow purple orange pink"),
        (3, "totally unrelated words with nothing in common here at all"),
        (4, "tiny doc"),  # < k tokens: single whole-text shingle
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, k=3, window=4).persist()

    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in fingerprint_overlap_pairs(fp, min_shared=1).collect()
    }
    assert (1, 2) in pairs  # the guarantee
    assert not any(3 in p or 5 in p for p in pairs)

    # selectivity: fewer selected fingerprints than grams (doc 1: 11 grams)
    n_grams = word_shingles_flat(
        df.filter("doc_id = 1"), "doc_id", "text", 3
    ).count()
    n_fp = fp.filter("doc_id = 1").count()
    assert 0 < n_fp < n_grams

    # short doc still fingerprinted (single truncated window)
    assert fp.filter("doc_id = 4").count() == 1


def test_winnowing_arrow_kernel_matches_expression_lane(spark, sf_dir):
    """r15: winnow_fingerprints moved to an Arrow mapInPandas kernel
    (guide §4.2). The kernel must emit EXACTLY the rows of the
    relational reference lane -- on the corpus fixture and on the edge
    shapes (short docs, whitespace-only, multi-space runs, tabs, NULLs,
    unicode case, Greek final sigma, dotted I, capital sharp s)."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        _winnow_fingerprints_expr,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame(
        [
            (100, "a b"),  # < k tokens
            (101, "a b c"),  # exactly k
            (102, "a b c d e f"),  # exactly window+k-1
            (103, "   leading  and   trailing   "),
            (104, ""),
            (105, "    "),
            (106, "tab\tsep\ttokens\nnew line mix"),
            (107, "ÜPPER Ünïcode CASE fold test here now"),
            (108, None),
            (109, "x " * 40),  # repeated token: duplicate grams
            # conditional and special case mappings: a word-final capital
            # sigma, dotted capital I, capital sharp s
            (110, "ΟΔΟΣ ΣΑΣ. ΟΔΟΣ ΣΑΣ. end"),
            (111, "İstanbul ẞtraße İSTANBUL ẞTRASSE here"),
        ],
        "doc_id long, text string",
    )
    for frame in (docs.select("doc_id", "text"), edge):
        got = {tuple(r) for r in winnow_fingerprints(frame, k=3, window=4).collect()}
        want = {
            tuple(r)
            for r in _winnow_fingerprints_expr(frame, k=3, window=4).collect()
        }
        assert got == want


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    ~1.0 (all of the short doc's grams appear in the long one) while
    jaccard is far below any dedup threshold."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        exact_jaccard_pairs,
        overlap_coefficient_pairs,
    )

    quote = "the quarterly report shows strong growth in deposits"
    filler = " ".join(f"filler{i}" for i in range(80))
    rows = [(1, quote), (2, f"{filler} {quote} {filler}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {
        (r.id_a, r.id_b): r.overlap_t
        for r in overlap_coefficient_pairs(
            df, threshold_num=8, threshold_den=10
        ).collect()
    }
    assert cont[(1, 2)] == 1.0  # full containment

    jac = exact_jaccard_pairs(df, threshold_num=35, threshold_den=100)
    assert jac.count() == 0  # jaccard is blind to it


def test_fingerprint_overlap_pair_budget_guard(spark):
    """Winnowing's hot case IS shared boilerplate: a fingerprint shared
    by m docs generates m*(m-1)/2 join rows. The default fail-loud
    budget (r5 VERDICT #1) must abort at execution with an actionable
    message; max_doc_freq drops the boilerplate fingerprint back under
    budget (lower-bound n_shared semantics)."""
    import pytest
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        fingerprint_overlap_pairs,
    )

    # 40 docs sharing one hot fingerprint (780 pairs), plus per-doc
    # unique fingerprints that can form no pair
    rows = [(i, h) for i in range(40) for h in ("boiler", f"unique{i}")]
    fp = spark.createDataFrame(rows, "doc_id long, fp string")

    with pytest.raises(Exception, match="pair rows"):
        fingerprint_overlap_pairs(fp, min_shared=1, max_pair_rows=100).count()

    ok = fingerprint_overlap_pairs(fp, min_shared=1, max_pair_rows=1000)
    assert ok.count() == 40 * 39 // 2

    # boilerplate capped out of the join: nothing left to pair
    capped = fingerprint_overlap_pairs(
        fp, min_shared=1, max_doc_freq=10, max_pair_rows=100
    )
    assert capped.count() == 0


def test_minhash_lane_signature_is_union_mergeable(spark):
    """The per-lane min signature of A ++ B equals the element-wise min
    of the partial signatures -- the union-sketch monoid property that
    lets source/corpus signatures roll up from per-day partials."""
    from pyspark.sql import functions as F

    from bankcreditunion_datapipeline_spark.operators.dedup import (
        word_shingles_flat,
    )

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " + "tok%d " % i * 3)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sig(frame):
        grams = (
            word_shingles_flat(frame, "doc_id", "text", k=3)
            .select("__s")
            .distinct()
            .withColumn("h", F.md5("__s"))
        )
        return grams.agg(
            *[
                F.min(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), F.col("h"))), 1, 15
                    )
                ).alias(f"s{i}")
                for i in range(8)
            ]
        ).first()

    full = sig(df)
    a = sig(df.filter("doc_id < 10"))
    b = sig(df.filter("doc_id >= 10"))
    assert tuple(full) == tuple(
        min(a[i], b[i]) for i in range(8)
    )


# ---------------------------------------------------------------------------
# remove_duplicate_spans: offset-robust sub-document dedup
# ---------------------------------------------------------------------------


def _mk_words(prefix, n):
    return [f"{prefix}{i}" for i in range(n)]


def test_duplicate_span_removed_where_chunk_dedup_misses(spark):
    """A 30-word duplicate planted MID-chunk (starting at token 7, so no
    20-word chunk boundary aligns between the two docs) is provably
    invisible to fixed-chunk dedup -- zero chunk hashes match -- yet
    remove_duplicate_spans excises exactly the shared 30 tokens from
    the later doc and keeps the earlier doc whole."""
    from pyspark.sql import functions as F

    from bankcreditunion_datapipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    dup = _mk_words("dup", 30)
    # doc 1: duplicate starts at token 5; doc 2: at token 7 -- different
    # offsets mod 20, so NO 20-word chunk of doc 2 equals any of doc 1.
    d1 = _mk_words("a", 5) + dup + _mk_words("b", 8)
    d2 = _mk_words("x", 7) + dup + _mk_words("y", 11)
    df = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2))], "doc_id long, text string"
    )

    # fixed-chunk dedup (q102's shape) sees zero shared chunks
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(20))
    chunks = df.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.xxhash64(F.concat_ws(" ", F.slice(toks, s, 20))),
            )
        ).alias("ch"),
    )
    shared = (
        chunks.groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter("nd >= 2")
        .count()
    )
    assert shared == 0, "planted duplicate must straddle chunk boundaries"

    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, k=8).collect()
    }
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == " ".join(d1)
    assert out[2]["n_removed"] == 30
    # excision preserves order: prefix then suffix, nothing else touched
    assert out[2]["clean_text"] == " ".join(_mk_words("x", 7) + _mk_words("y", 11))
    assert out[2]["n_tok"] == len(d2)


def test_duplicate_span_alignment_and_short_runs(spark):
    """Runs shorter than k survive; spans at the very start/end excise
    cleanly; the earliest doc always keeps its text; zero-token docs
    survive with empty clean_text."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    run = _mk_words("r", 8)          # exactly k -- removable
    short = _mk_words("s", 7)        # k-1 -- never removable
    d1 = run + _mk_words("m", 4) + short
    d2 = run + _mk_words("q", 6)                 # span at start
    d3 = _mk_words("z", 6) + run                 # span at end
    d4 = short + _mk_words("w", 9)               # only the short run shared
    df = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2)), (3, " ".join(d3)),
         (4, " ".join(d4)), (5, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, k=8).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == " ".join(_mk_words("q", 6))
    assert out[2]["n_removed"] == 8
    assert out[3]["clean_text"] == " ".join(_mk_words("z", 6))
    assert out[3]["n_removed"] == 8
    assert out[4]["n_removed"] == 0, "k-1 run must never be excised"
    assert out[4]["clean_text"] == " ".join(d4)
    assert out[5]["clean_text"] == "" and out[5]["n_tok"] == 0


def test_duplicate_span_case_insensitive_match_preserves_original(spark):
    """Gram matching is case-insensitive but the survivor text keeps the
    ORIGINAL casing; overlapping shared spans merge into one excision."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    dup = _mk_words("dup", 12)
    d1 = _mk_words("a", 3) + dup
    d2 = ["KEEP0", "KeEp1"] + [w.upper() for w in dup] + ["Tail0"]
    df = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2))], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, k=8).collect()}
    assert out[2]["n_removed"] == 12
    assert out[2]["clean_text"] == "KEEP0 KeEp1 Tail0"


def test_duplicate_span_null_text_kept_as_empty_row(spark):
    """ADVICE r7 (low): a NULL-text document used to vanish (size(NULL)
    = -1 fell through both the __n > 0 and __n == 0 branches); the
    contract is ONE ROW PER INPUT DOCUMENT, so NULL text must surface
    with empty clean_text and zero counts, exactly like whitespace-only
    text."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    dup = _mk_words("dup", 10)
    df = spark.createDataFrame(
        [
            (1, " ".join(dup)),
            (2, None),
            (3, "   \t  "),
            (4, " ".join(dup) + " tail"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, k=8).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    for d in (2, 3):
        assert out[d]["clean_text"] == ""
        assert out[d]["n_tok"] == 0 and out[d]["n_removed"] == 0
    assert out[4]["clean_text"] == "tail"


def test_duplicate_span_giant_doc_budget_fails_loud(spark):
    """r7 VERDICT #7: the per-doc windows serialize one document into
    one partition sort, so a pathological giant doc must raise (the
    max_pair_rows discipline applied to doc length), not hang an
    executor; under the budget the same call succeeds."""
    import pytest

    from bankcreditunion_datapipeline_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(1, " ".join(_mk_words("w", 300)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="max_doc_tokens"):
        remove_duplicate_spans(df, k=8, max_doc_tokens=100).collect()
    assert remove_duplicate_spans(df, k=8, max_doc_tokens=300).count() == 1


def test_prefix_jaccard_matches_brute_force(spark):
    """Two-strategies-must-agree: the PPJoin prefix-filtered pairs must
    equal the full shared-token brute-force join at the same integer
    permille threshold -- including a pair whose ONLY shared tokens are
    corpus-frequent (the prefix still catches it via the globally
    smallest shared token) and excluding sub-threshold pairs."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # J with 1: 8 shared / 12 union = 666 permille >= 600
        (2, "alpha beta gamma delta epsilon zeta eta theta mu nu"),
        # J with 1: 5/15 -> below threshold
        (3, "alpha beta gamma delta epsilon one two three four five"),
        (4, "totally different words nothing shared here at all ok yes"),
        # exact duplicate of 4 -> J = 1000
        (5, "totally different words nothing shared here at all ok yes"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_permille"]
        for r in prefix_filtered_jaccard_pairs(
            df, threshold_permille=600
        ).collect()
    }
    # brute force in python
    import itertools

    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if u and (i * 1000) // u >= 600:
            want[(a, b)] = (i * 1000) // u
    assert got == want
    assert (1, 2) in got and (4, 5) in got and (1, 3) not in got


def test_prefix_jaccard_budget_fails_loud(spark):
    """The prefix self-join carries attach_pair_budget: a corpus of
    identical docs (every prefix token collides everywhere) must raise
    at execution, not generate the quadratic pair set."""
    import pytest

    from bankcreditunion_datapipeline_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, "same tokens in every single document here") for i in range(60)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="pair"):
        prefix_filtered_jaccard_pairs(
            df, threshold_permille=600, max_pair_rows=100
        ).collect()


def test_idf_weighted_jaccard_hand_values(spark):
    """Weighted Jaccard with integer IDF weights wt = 1e6 div df,
    hand-computed: d1/d2 share {a, b} (df=2 each, wt=500000), so
    shared = 1000000 over totals 2000000 each -> union 3000000 ->
    wjac = 333 permille; d3 shares nothing and must not pair."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y")],
        "doc_id long, text string",
    )
    rows = idf_weighted_jaccard_pairs(df, threshold_permille=300).collect()
    assert {(r["id_a"], r["id_b"], r["wjac_permille"]) for r in rows} == {
        (1, 2, 333)
    }


def test_idf_weighted_jaccard_cap_is_symmetric(spark):
    """max_doc_freq redefines the element universe SYMMETRICALLY: with
    cap=2 dropping the df-3 token 's', d1={t,a} and d2={t,b} share
    wt(t)=500000 over filtered totals 1500000 each -> union 2500000 ->
    wjac = 200.  The asymmetric form (capped intersection over
    UNCAPPED totals, union 3166666) would give 157 -- this pins the
    exact-Jaccard-of-filtered-sets contract."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, "s t a"), (2, "s t b"), (3, "s x")],
        "doc_id long, text string",
    )
    rows = idf_weighted_jaccard_pairs(
        df, threshold_permille=150, max_doc_freq=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["wjac_permille"] for r in rows}
    assert got[(1, 2)] == 200
    # d3's only surviving token is x (df=1): no overlap, no pair
    assert set(got) == {(1, 2)}


def test_idf_weighted_jaccard_null_and_dup_tokens(spark):
    """NULL text/id rows are excluded; repeated tokens in one doc count
    once (distinct element sets)."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b b"), (3, None), (None, "a b")],
        "doc_id long, text string",
    )
    rows = idf_weighted_jaccard_pairs(df, threshold_permille=100).collect()
    # identical distinct sets {a, b} -> wjac = 1000 exactly
    assert {(r["id_a"], r["id_b"], r["wjac_permille"]) for r in rows} == {
        (1, 2, 1000)
    }


def test_idf_weighted_jaccard_budget_fails_loud(spark):
    """The posting-list pair join rides attach_pair_budget."""
    import pytest

    from bankcreditunion_datapipeline_spark.operators.dedup import (
        idf_weighted_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, "same words everywhere again") for i in range(60)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="pair"):
        idf_weighted_jaccard_pairs(
            df, threshold_permille=300, max_pair_rows=50
        ).collect()


def test_extend_components_equals_full_recompute(spark):
    """Star contraction: extending yesterday's labels with a delta --
    including an edge that MERGES two standing clusters -- equals the
    monolithic CC over all edges, representatives included."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        connected_components,
        extend_components,
    )

    old = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    delta = spark.createDataFrame(
        [(3, 4), (6, 7)], "id_a long, id_b long"
    )
    standing = connected_components(old)
    got = {
        r["id"]: r["component"]
        for r in extend_components(standing, delta).collect()
    }
    want = {
        r["id"]: r["component"]
        for r in connected_components(old.unionByName(delta)).collect()
    }
    assert got == want
    # the delta edge (3, 4) merged clusters {1,2,3} and {4,5} under rep 1
    assert got[5] == 1 and got[7] == 6


def test_extend_components_empty_delta(spark):
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        connected_components,
        extend_components,
    )

    old = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    delta = spark.createDataFrame([], "id_a long, id_b long")
    standing = connected_components(old)
    got = {
        r["id"]: r["component"]
        for r in extend_components(standing, delta).collect()
    }
    assert got == {1: 1, 2: 1}


def test_incremental_survivor_candidates_equal_monolithic(spark):
    """Dominance property: per-policy argmax over {standing survivors
    UNION delta endpoints} equals the monolithic per-component argmax.
    Exercises: a merge of two standing clusters (whose survivors
    disagree per policy), an old SINGLETON joining a cluster through a
    delta edge, a brand-new cluster, and an untouched standing cluster.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from bankcreditunion_datapipeline_spark.operators.dedup import (
        connected_components,
        extend_components,
        incremental_survivor_candidates,
    )

    # attrs: (id, qint, nch) -- quality argmax and length argmax
    # deliberately differ from min-id in every cluster
    attrs = spark.createDataFrame(
        [
            (1, 10, 900),
            (2, 90, 100),
            (3, 50, 500),
            (4, 95, 50),
            (5, 20, 999),
            (6, 70, 10),   # old singleton, high quality
            (7, 30, 20),
            (8, 60, 700),
            (9, 40, 40),
            (10, 80, 80),
            (11, 5, 5),   # historical non-survivor, not a delta endpoint
        ],
        "id long, qint long, nch long",
    )
    old = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (8, 9), (9, 11)], "id_a long, id_b long"
    )
    # (3,4) merges two standing clusters; (6,7) pulls the old singleton
    # 6 into a new 2-cluster; (9,10) extends a standing cluster;
    # standing cluster {8,9} also stays reachable through 9
    delta = spark.createDataFrame(
        [(3, 4), (6, 7), (9, 10)], "id_a long, id_b long"
    )

    def survivors(members):
        wc = Window.partitionBy("component")
        r = (
            members.withColumn(
                "r_min", F.row_number().over(wc.orderBy(F.asc("id")))
            )
            .withColumn(
                "r_q",
                F.row_number().over(wc.orderBy(F.desc("qint"), F.asc("id"))),
            )
            .withColumn(
                "r_len",
                F.row_number().over(wc.orderBy(F.desc("nch"), F.asc("id"))),
            )
        )
        return r.groupBy("component").agg(
            F.max(F.when(F.col("r_min") == 1, F.col("id"))).alias("s_min"),
            F.max(F.when(F.col("r_q") == 1, F.col("id"))).alias("s_q"),
            F.max(F.when(F.col("r_len") == 1, F.col("id"))).alias("s_len"),
        )

    standing = connected_components(old)
    s_old = survivors(standing.join(attrs, "id"))
    old_ids = (
        s_old.select(F.col("s_min").alias("id"))
        .unionByName(s_old.select(F.col("s_q").alias("id")))
        .unionByName(s_old.select(F.col("s_len").alias("id")))
    )
    labels_new = extend_components(standing, delta)
    cands = incremental_survivor_candidates(labels_new, old_ids, delta)

    got = {
        r["component"]: (r["s_min"], r["s_q"], r["s_len"])
        for r in survivors(cands.join(attrs, "id")).collect()
    }
    mono = connected_components(old.unionByName(delta))
    want = {
        r["component"]: (r["s_min"], r["s_q"], r["s_len"])
        for r in survivors(mono.join(attrs, "id")).collect()
    }
    assert got == want
    # the merged {1..5} cluster: min-id 1, best quality 4, longest 5;
    # the singleton-join {6,7}: quality survivor is the OLD singleton 6
    assert got[1] == (1, 4, 5)
    assert got[6] == (6, 6, 7)
    # the incremental win: a historical member that is neither a
    # standing survivor nor a delta endpoint is never re-read
    cand_ids = {r["id"] for r in cands.collect()}
    assert 11 not in cand_ids
    # while the standing q-survivor of {1,2,3} (id 2) IS a candidate
    assert 2 in cand_ids


def test_ensure_min_partitions_spreads_bare_scans(spark, tmp_path, sf_dir):
    """r11 regression: a bare FileScan's plan string contains
    'Location: InMemoryFileIndex(...)', which the old plain
    'InMemory' substring check matched -- silently no-opping the
    function on exactly the one-small-file case it exists for (the
    multimodal Arrow lanes ran single-task at sf0.1).  A real CACHE
    must still be left alone."""
    from bankcreditunion_datapipeline_spark.operators.dedup import (
        ensure_min_partitions,
    )

    p = str(tmp_path / "one.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    assert scan.rdd.getNumPartitions() == 1
    spread = ensure_min_partitions(scan)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    cached = spark.read.parquet(p).cache()
    try:
        cached.count()
        # cached relation: partitioning is governed by the cache
        assert ensure_min_partitions(cached) is cached
    finally:
        cached.unpersist()
