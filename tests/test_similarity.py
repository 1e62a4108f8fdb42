"""Tests for similarity search: brute force vs DuckDB ground truth, LSH and
IVF approximate paths vs the exact baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
    lsh_topk,
    with_lsh_signature,
)
from bankcreditunion_datapipeline_spark.sources.files import read_testdata


def _emb(spark, sf_dir):
    return read_testdata(spark, sf_dir, "embeddings")


def _query_vec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def test_brute_force_topk_matches_duckdb(spark, sf_dir):
    import duckdb

    emb = _emb(spark, sf_dir)
    q = _query_vec(emb)
    got = [(r.vec_id, r.score) for r in brute_force_topk(emb, q, k=10).collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW e AS FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    truth = con.sql(
        """
        WITH q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
        SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS score
        FROM e, q ORDER BY score DESC, vec_id LIMIT 10
        """
    ).fetchall()
    assert got == truth


def test_lsh_topk_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = _query_vec(emb)
    exact = {r.vec_id for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {r.vec_id for r in lsh_topk(emb, q, k=5, n_planes=32, candidate_pool=100).collect()}
    # vec 0 itself must always be found (cosine 1.0, hamming 0)
    assert 0 in approx
    # generous recall bound on near-random data with a 100-candidate pool
    assert len(exact & approx) >= 2


def test_lsh_signature_reuse(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    signed, planes = with_lsh_signature(emb, n_planes=24)
    q = _query_vec(emb)
    out = lsh_topk(signed, q, k=3, sig_col="lsh_sig", planes=planes, candidate_pool=50)
    assert out.first().vec_id == 0  # self-match tops the ranking


def test_ivf_topk_self_match_and_bounded_scan(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = _query_vec(emb)
    indexed, centroids = build_ivf_index(emb, k_cells=8)
    out = ivf_topk(indexed, centroids, q, k=5, nprobe=4)
    rows = out.collect()
    assert rows[0].vec_id == 0 and abs(rows[0].score - 1.0) < 1e-6
    # probing fewer cells scans fewer rows than the full table
    probed = indexed.filter(F.col("ivf_cell").isin([c for c, _ in centroids][:4])).count()
    assert probed < emb.count()


def test_label_centroids_and_kmeans_assign(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        kmeans_assign,
        label_centroids,
    )

    rows = [
        (0, [0.0, 0.0], 0),
        (1, [0.0, 2.0], 0),
        (2, [10.0, 0.0], 1),
        (3, [10.0, 2.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cent = {r.centroid_label: r.centroid for r in label_centroids(emb, dim=2).collect()}
    assert cent[0] == [0.0, 1.0] and cent[1] == [10.0, 1.0]
    assigned = kmeans_assign(emb, label_centroids(emb, dim=2), keep_cols=["label"])
    out = {r.vec_id: r for r in assigned.collect()}
    # every vector lands on its own label's centroid, dist = |a-c|^2 = 1
    for vid, r in out.items():
        assert r.assigned == r.label
        assert abs(r.dist - 1.0) < 1e-9


def test_kmeans_iterate_converges_to_true_clusters(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        kmeans_iterate,
    )

    # two tight blobs; seeds (first 2 ids) start one in each blob
    rows = []
    for i in range(10):
        rows.append((2 * i, [0.0 + (i % 3) * 0.1, 1.0 + (i % 2) * 0.1], "a"))
        rows.append((2 * i + 1, [5.0 + (i % 3) * 0.1, -1.0 - (i % 2) * 0.1], "b"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, blob string"
    )
    assigned, centroids, iters = kmeans_iterate(emb, k=2, dim=2, max_iters=8)
    got = {r.vec_id: r.assigned for r in assigned.collect()}
    # all evens (blob a) in one cluster, odds (blob b) in the other
    a_labels = {got[v] for v in range(0, 20, 2)}
    b_labels = {got[v] for v in range(1, 20, 2)}
    assert len(a_labels) == 1 and len(b_labels) == 1 and a_labels != b_labels
    assert iters <= 8
    cents = {r.centroid_label: r.centroid for r in centroids.collect()}
    assert len(cents) == 2
    # converged centroids sit at the blob means (within the 0.1 jitter)
    means = sorted(c[0] for c in cents.values())
    assert abs(means[0] - 0.1) < 0.2 and abs(means[1] - 5.1) < 0.2


def test_quantization_error_bounds(spark, sf_dir):
    """q134's int8 quantization: MSE bounded by the grid step, constant
    vectors reconstruct exactly."""
    from bankcreditunion_datapipeline_spark.queries import registry

    q = registry()["q134_embedding_quantization"]
    rows = q.spark_fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["mse_q8_t"] is None or r["rng_t"] is None:
            continue
        if r["rng_t"] == 0.0:
            assert r["mse_q8_t"] == 0.0
        else:
            # worst-case per-dim error is half a grid step; allow the
            # truncation slack
            step = r["rng_t"] / 255.0
            assert r["mse_q8_t"] <= (step / 2) ** 2 + 1e-6


def test_pq_ann_recall_and_code_shape(spark, sf_dir):
    """PQ ADC top-10 must substantially agree with exact L2 top-10, and
    every vector must encode to exactly n_subspaces codes."""
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        label_centroids,
        pq_adc_topk,
        pq_encode,
        pq_subspace_codebooks,
    )
    from bankcreditunion_datapipeline_spark.sources.files import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, dim=64)
    cb = pq_subspace_codebooks(cent, dim=64, n_subspaces=8)

    n_vecs = emb.count()
    codes = pq_encode(emb, cb, dim=64, n_subspaces=8)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert len(per_vec) == n_vecs
    assert all(r["count"] == 8 for r in per_vec)

    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    approx = {
        r["vec_id"]
        for r in pq_adc_topk(
            codes, cb, query, dim=64, n_subspaces=8, k=10
        ).collect()
    }

    # the query itself (a zero-error encoding of its own subspaces'
    # nearest codes) must always surface
    assert 0 in approx

    # ADC identity: sum of per-subspace codeword distances IS the squared
    # L2 distance between the query and the RECONSTRUCTED vector (concat
    # of chosen codewords) -- verify in numpy to the micro-unit rounding
    import numpy as np

    cwords = {
        (r["sub"], r["code"]): np.array(r["codeword"], dtype=np.float64)
        for r in cb.collect()
    }
    code_rows = codes.filter(F.col("vec_id") < 20).collect()
    by_vec: dict = {}
    for r in code_rows:
        by_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    q = np.array(
        emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"],
        dtype=np.float64,
    )
    adist = {
        r["vec_id"]: r["adist_u"]
        for r in pq_adc_topk(
            codes.filter(F.col("vec_id") < 20), cb, query,
            dim=64, n_subspaces=8, k=20,
        ).collect()
    }
    for vid, subs in by_vec.items():
        recon = np.concatenate([cwords[(s, subs[s])] for s in range(8)])
        want = float(((q - recon) ** 2).sum()) * 1e6
        # per-subspace rounding at 1e-6 then micro-unit ints: tolerance a
        # few units per subspace
        assert abs(adist[vid] - want) <= 8 * 2 + 1, (vid, adist[vid], want)


def test_ivf_pq_candidates_confined_to_probed_cells(spark, sf_dir):
    from bankcreditunion_datapipeline_spark.queries import registry

    rows = registry()["q138_ivf_pq_search"].spark_fn(spark, sf_dir).collect()
    assert rows
    # the query vector itself lives in its own nearest cell and has the
    # smallest reconstruction error on near-random data -> it must appear
    assert 0 in {r["vec_id"] for r in rows}
    # everything returned comes from at most 2 distinct cells (nprobe=2)
    assert len({r["cell"] for r in rows}) <= 2
    # ranking is by integer ADC distance
    dists = [r["adist_u"] for r in rows]
    assert dists == sorted(dists)


def test_pq_codebooks_trainable_per_subspace(spark, sf_dir):
    """The production PQ path: train each subspace's codebook with the
    existing Lloyd operator. Lloyd monotonicity guarantees the trained
    codebook quantizes no worse than its own seed assignment; verify on
    the first subspace and confirm trained codebooks slot straight into
    pq_encode/pq_adc_topk."""
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        kmeans_assign,
        kmeans_iterate,
        pq_adc_topk,
        pq_encode,
    )
    from bankcreditunion_datapipeline_spark.sources.files import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    sub0 = emb.select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )

    assigned, trained, iters = kmeans_iterate(sub0, k=16, dim=8, max_iters=6)
    trained_sse = assigned.agg(F.sum("dist")).first()[0]

    # seed centroids = first 16 vectors by id (kmeans_iterate convention)
    seeds = sub0.orderBy(F.asc("vec_id")).limit(16).collect()
    seed_cent = spark.createDataFrame(
        [
            (i, [round(float(x), 6) for x in r["embedding"]])
            for i, r in enumerate(seeds)
        ],
        "centroid_label int, centroid array<double>",
    )
    seed_sse = (
        kmeans_assign(sub0, seed_cent).agg(F.sum("dist")).first()[0]
    )
    assert trained_sse <= seed_sse + 1e-6
    assert iters >= 1

    # trained codebooks (one per subspace here: reuse sub0's for all 8
    # slots via the same schema) drive the SAME encode/ADC machinery
    cb = trained.select(
        F.lit(0).alias("sub"),
        F.col("centroid_label").alias("code"),
        F.col("centroid").alias("codeword"),
    )
    codes = pq_encode(sub0, cb, dim=8, n_subspaces=1)
    assert codes.groupBy("vec_id").count().filter("count != 1").count() == 0
    query = sub0.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    top = pq_adc_topk(codes, cb, query, dim=8, n_subspaces=1, k=5).collect()
    assert len(top) == 5 and all(r["adist_u"] >= 0 for r in top)


def test_pq_encode_arrow_matches_expression_path(spark, sf_dir):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        label_centroids,
        pq_encode,
        pq_encode_arrow,
        pq_subspace_codebooks,
    )
    from bankcreditunion_datapipeline_spark.sources.files import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    cent = label_centroids(emb, dim=64)
    cb = pq_subspace_codebooks(cent, dim=64, n_subspaces=8)

    expr = {
        (r["vec_id"], r["sub"]): (r["code"], r["dist"])
        for r in pq_encode(emb, cb, dim=64, n_subspaces=8).collect()
    }
    arrow = {
        (r["vec_id"], r["sub"]): (r["code"], r["dist"])
        for r in pq_encode_arrow(emb, cb, dim=64, n_subspaces=8).collect()
    }
    assert expr.keys() == arrow.keys()
    for k in expr:
        assert expr[k][0] == arrow[k][0], (k, expr[k], arrow[k])
        assert abs(expr[k][1] - arrow[k][1]) <= 1e-6


def test_kmeanspp_seeding_balances_id_correlated_blobs(spark):
    """Ids correlated with cluster membership (the real-ingest pattern:
    ids increase by source/time) starve first-k seeding: all k seeds land
    in the first blob and the other blobs funnel into one hot cell.
    kmeanspp_seeds' md5-oversample + farthest-first must spread seeds
    across blobs and cut the max/mean cell-size skew. Deterministic:
    same seeds on every run/layout."""
    import math
    import random

    from bankcreditunion_datapipeline_spark.operators.similarity import (
        build_ivf_index,
        kmeanspp_seeds,
    )

    rng = random.Random(13)
    rows = []
    # 4 well-separated blobs on ORTHOGONAL axes (the index assigns by
    # cosine, so blobs must differ in direction), ids ordered by blob
    for b in range(4):
        center = [10.0 if d % 4 == b else 0.0 for d in range(8)]
        for i in range(200):
            rows.append(
                (b * 1000 + i, [c + rng.gauss(0, 0.5) for c in center])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # 1. seed spread: first-k seeds all come from blob 0 (the id
    # pathology); kmeanspp picks one seed per blob
    pp = kmeanspp_seeds(df, 4)
    pp_blobs = {
        min(range(4), key=lambda b: sum(
            (c - (10.0 if d % 4 == b else 0.0)) ** 2 for d, c in enumerate(v)
        ))
        for _, v in pp
    }
    assert pp_blobs == {0, 1, 2, 3}, pp_blobs

    # 2. quantization error (the k-means++ guarantee): mean L2 distance
    # to the assigned centroid -- with all four first-k seeds inside
    # blob 0, three whole blobs sit ~14 units from every centroid
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        kmeans_assign,
    )

    def mean_dist(seeds) -> float:
        cents = spark.createDataFrame(
            seeds, "centroid_label int, centroid array<double>"
        )
        return (
            kmeans_assign(df, cents).agg(F.avg("dist").alias("d")).first()["d"]
        )

    first_seeds = [
        (i, [round(float(x), 6) for x in r["embedding"]])
        for i, r in enumerate(df.orderBy("vec_id").limit(4).collect())
    ]
    err_first = mean_dist(first_seeds)
    err_pp = mean_dist(pp)
    assert err_first > 5 * err_pp, (err_first, err_pp)

    # 3. balance under kmeanspp: one seed per blob -> near-equal cells
    indexed, _ = build_ivf_index(df, k_cells=4, seeding="kmeanspp")
    sizes = [r["count"] for r in indexed.groupBy("ivf_cell").count().collect()]
    assert len(sizes) == 4 and max(sizes) / (sum(sizes) / 4) < 1.2, sizes

    # 4. determinism: identical seeds across runs and layouts
    assert pp == kmeanspp_seeds(df.repartition(7), 4)


def test_reciprocal_rank_fusion_hand_computed(spark):
    """RRF of two 3-item lists: shared ids sum both reciprocal terms,
    single-list ids get one; integer floor division (scale=1e6, k0=60)."""
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        reciprocal_rank_fusion,
    )

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "vec_id long, rk int")
    b = spark.createDataFrame([(12, 1), (10, 2), (13, 3)], "vec_id long, rk int")
    out = {
        r["vec_id"]: r["rrf"]
        for r in reciprocal_rank_fusion([a, b]).collect()
    }
    s = lambda r: 1_000_000 // (60 + r)  # noqa: E731
    assert out == {
        10: s(1) + s(2),
        11: s(2),
        12: s(3) + s(1),
        13: s(3),
    }


def test_mmr_rerank_demotes_near_duplicates(spark):
    """Hand vectors: A is most relevant, A2 is a near-copy of A with
    slightly lower relevance, B/C are orthogonal-ish but less relevant.
    Pure relevance ranks A, A2, B...; MMR at lambda=0.7 must pick A
    first and then prefer B/C over the redundant A2."""
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),          # A: rel 1.0
        (2, [0.999, 0.04, 0.0, 0.0]),       # A2: near-copy, rel ~0.999
        (3, [0.6, 0.8, 0.0, 0.0]),          # B: rel 0.6, diverse
        (4, [0.5, 0.0, 0.86, 0.0]),         # C: rel ~0.5, diverse
        (5, None),                           # NULL vec -> excluded
        (6, [0.0, 0.0, 0.0, 0.0]),           # zero norm -> excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [
        tuple(r)
        for r in mmr_rerank(
            df, [1.0, 0.0, 0.0, 0.0], k=3, pool=4, lam_permille=400
        ).collect()
    ]
    order = [r[0] for r in sorted(out, key=lambda r: r[2])]
    assert order[0] == 1            # pure relevance first
    assert order[1] in (3, 4)       # diversity beats the near-copy
    assert 2 not in order[:2]
    ranks = [r[2] for r in out]
    assert sorted(ranks) == [1, 2, 3]


# -- mutual_nearest_pairs ----------------------------------------------------


def test_mutual_nearest_pairs_symmetric_only(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        mutual_nearest_pairs,
    )

    # a<->b are each other's top-1; c's top-1 is a, but a's is b -> no
    # pair for c. d is a zero vector: never ranks.
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.1]),
        (3, [0.7, 0.7]),
        (4, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r.id_a, r.id_b) for r in mutual_nearest_pairs(df).collect()
    ]
    assert got == [(1, 2)]


def test_mutual_nearest_pairs_budget_fires(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        mutual_nearest_pairs,
    )
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="mutual_nearest_pairs"):
        mutual_nearest_pairs(df, max_rows=10).collect()


# -- kmeans_training_curve -----------------------------------------------------


def test_kmeans_curve_separates_blobs_and_inertia_drops(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        kmeans_training_curve,
    )

    # blob A around (0,0): ids 0-3; blob B around (10,10): ids 4-7.
    # Seeds (first 2 by id) both start inside blob A.
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]),
        (4, [10.0, 10.0]), (5, [11.0, 10.0]), (6, [10.0, 11.0]),
        (7, [11.0, 11.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_training_curve(emb, k=2, dim=2, rounds=3).collect()
    by_round = {}
    for r in out:
        by_round.setdefault(r.round, {})[r.assigned] = r
    # round 0: seed 0 = (0,0), seed 1 = (1,0); blob B is nearer seed 1
    assert by_round[0][1].n_vecs == 7 or by_round[0][1].n_vecs == 6
    # by the last round the blobs are separated 4/4
    sizes = sorted(v.n_vecs for v in by_round[2].values())
    assert sizes == [4, 4]
    # total inertia strictly improves from round 0 to round 2
    tot = {
        rnd: sum(v.mean_dist * v.n_vecs for v in cl.values())
        for rnd, cl in by_round.items()
    }
    assert tot[2] < tot[0]


def test_kmeans_curve_drops_emptied_cluster_and_nulls(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        kmeans_training_curve,
    )

    # duplicate seeds: ties break to clabel 0, cluster 1 never gets a
    # member and must drop from round 1 onward. NULL vector excluded.
    rows = [
        (0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [2.0, 2.0]), (3, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_training_curve(emb, k=2, dim=2, rounds=2).collect()
    r0 = [r for r in out if r.round == 0]
    r1 = [r for r in out if r.round == 1]
    assert sum(r.n_vecs for r in r0) == 3  # NULL excluded
    assert {r.assigned for r in r0} == {0}  # ties all to clabel 0
    assert {r.assigned for r in r1} == {0}


# -- power_iteration_top_component ----------------------------------------------


def test_power_iteration_finds_dominant_axis(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        power_iteration_top_component,
    )

    # corpus dominated by the second axis: second-moment matrix is
    # diag-heavy on dim 2 -> the max-normalized component there is 1.0
    rows = [
        (0, [1.0, 9.0, 0.0]),
        (1, [-1.0, 8.0, 0.5]),
        (2, [0.5, 9.5, -0.5]),
        (3, [0.0, 10.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.dim: r for r in
           power_iteration_top_component(emb, dim=3, rounds=4).collect()}
    assert abs(out[2].component) == 1.0
    assert abs(out[1].component) < 0.2 and abs(out[3].component) < 0.2
    assert out[2].max_norm > 0


def test_power_iteration_clips_outliers_and_empty(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        power_iteration_top_component,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [1e6, 1e6]),  # clipped out
        (2, None),        # NULL excluded
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.dim: r for r in
           power_iteration_top_component(emb, dim=2, rounds=2).collect()}
    # only [1.0, 0.0] survives: dominant axis is dim 1
    assert out[1].component == 1.0 and out[2].component == 0.0
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert power_iteration_top_component(empty, dim=2, rounds=2).count() == 0


# -- knn_label_disagreement ----------------------------------------------------


def test_knn_label_disagreement_flags_planted_mislabel(spark):
    """Three tight clusters of 4; one vector in cluster A carries
    cluster B's label -> its 3-NN majority outvotes it; every clean
    vector agrees with its neighborhood."""
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        knn_label_disagreement,
    )

    def v(axis, eps, i):
        base = [0.0] * 8
        base[axis] = 1.0
        base[(axis + 1) % 8] = eps * (i + 1)
        return base

    rows = []
    vid = 0
    for axis, label in ((0, 1), (3, 2), (6, 3)):
        for i in range(4):
            rows.append((vid, v(axis, 0.01, i), label))
            vid += 1
    rows[2] = (2, rows[2][1], 2)  # plant: cluster-1 vector labeled 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long")
    out = {
        r["vec_id"]: r
        for r in knn_label_disagreement(
            df, "vec_id", "embedding", "label", k=3
        ).collect()
    }
    assert len(out) == 12
    assert out[2]["disagree"] == 1 and out[2]["majority_label"] == 1
    assert all(r["disagree"] == 0 for i, r in out.items() if i != 2)
    assert all(r["n_votes"] == 3 for r in out.values())


def test_knn_label_disagreement_zero_norm_and_nulls_drop(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        knn_label_disagreement,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1),
            (2, [0.9, 0.1], 1),
            (3, [0.8, 0.2], 1),
            (4, [0.0, 0.0], 2),   # zero norm: no neighborhood
            (5, None, 2),          # NULL vector: excluded
            (6, [1.0, 1.0], None),  # NULL label: excluded
        ],
        "vec_id long, embedding array<double>, label long",
    )
    out = {
        r["vec_id"]: r
        for r in knn_label_disagreement(
            df, "vec_id", "embedding", "label", k=2
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert all(r["disagree"] == 0 for r in out.values())


def test_knn_label_disagreement_budget_fails_loud(spark):
    import pytest

    from bankcreditunion_datapipeline_spark.operators.similarity import (
        knn_label_disagreement,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], 1) for i in range(30)],
        "vec_id long, embedding array<double>, label long",
    )
    with pytest.raises(Exception, match="max_rows"):
        knn_label_disagreement(
            df, "vec_id", "embedding", "label", k=2, max_rows=10
        ).collect()


def test_ivf_batch_topk_all_cells_equals_brute_force(spark):
    # r13 (VERDICT r12 #8): the batch probe at nprobe >= n_cells IS the
    # exact search -- per query, identical to brute-force cosine top-k.
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        ivf_batch_topk,
        kmeans_assign,
        label_centroids,
    )

    import random

    rnd = random.Random(13)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(60)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cent = label_centroids(emb, dim=8)
    asg = kmeans_assign(emb, cent).select(
        "vec_id", F.col("assigned").alias("cell")
    )
    base = emb.select("vec_id", "embedding").join(asg, "vec_id")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
    )
    got = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in ivf_batch_topk(
            base, cent, queries, k=5, nprobe=99
        ).collect()
    }
    # driver-side brute force truth
    vecs = {i: v for i, v, _ in rows}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return round(num / (na * nb), 6)

    for q in range(3):
        want = sorted(
            ((cos(vecs[q], v), i) for i, v in vecs.items()),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        for rank, (_, vid) in enumerate(want, start=1):
            assert got[(q, rank)] == vid, (q, rank, got[(q, rank)], vid)


def test_ivf_batch_candidates_nprobe_monotone_and_zero_norm_excluded(spark):
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        ivf_batch_candidates,
        kmeans_assign,
        label_centroids,
    )

    rows = [(i, [float(i % 5 + 1), float(i % 7)], i % 2) for i in range(20)]
    rows.append((99, [0.0, 0.0], 0))  # zero-norm: excluded both sides
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cent = label_centroids(emb, dim=2)
    asg = kmeans_assign(emb, cent).select(
        "vec_id", F.col("assigned").alias("cell")
    )
    base = emb.select("vec_id", "embedding").join(asg, "vec_id")
    queries = emb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c1 = ivf_batch_candidates(base, cent, queries, nprobe=1)
    c2 = ivf_batch_candidates(base, cent, queries, nprobe=2)
    s1 = {(r["q_id"], r["vec_id"]) for r in c1.collect()}
    s2 = {(r["q_id"], r["vec_id"]) for r in c2.collect()}
    assert s1 < s2  # wider probe strictly adds candidates here
    assert not any(q == 99 or v == 99 for q, v in s2)
