"""Similarity search over an embedding column (array<float>).

Two paths, per the scale story:
- brute_force_topk: exact cosine against every row -- the correctness
  baseline; one narrow pass + TakeOrderedAndProject (per-partition heaps,
  no global sort). Linear scan is the right plan up to ~1e8 vectors/query
  batch; beyond that, use the LSH path.
- lsh_topk: sign-LSH prefilter (hamming distance on packed signatures,
  computed JVM-side) -> exact cosine re-rank of a bounded candidate pool.
  Approximate: recall depends on n_planes and pool size.
- ivf_topk: IVF-style coarse quantization -- assign every vector to its
  nearest of k centroids (selected deterministically from the data), probe
  the closest `nprobe` cells at query time. Candidate set is pruned by
  partition-preserving filter on cluster id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import transient_persist
from ..localresult import local_result_frame
from ..functions.vectors import attach_sign_bits, cosine, dot, hamming64, random_hyperplanes


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k nearest rows to `query_vec`. Returns (id, score) ordered
    desc with id tiebreak (deterministic)."""
    score = (
        cosine(F.col(vec_col), query_vec)
        if metric == "cosine"
        else dot(F.col(vec_col), query_vec)
    )
    return (
        df.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def with_lsh_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 32,
    dim: int | None = None,
    out: str = "lsh_sig",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Attach a packed sign-LSH signature column; returns (df, planes) so
    queries hash with the same plane set. At scale, persist the signed table
    (signature computation is the expensive narrow pass).

    Signatures are computed Arrow-batched (one numpy matmul per batch via
    mapInPandas) -- n_planes interpreted HOF folds per row don't survive
    wide embedding columns."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    return attach_sign_bits(df, planes, vec_col, out), planes


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    candidate_pool: int | None = None,
    sig_col: str | None = None,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: rank by hamming distance between signatures, take
    a bounded candidate pool, exact-cosine re-rank. One narrow pass + two
    TakeOrdered operations; no shuffle of vectors."""
    candidate_pool = candidate_pool or max(4 * k, 100)
    if sig_col is None:
        df, planes = with_lsh_signature(df, vec_col, n_planes)
        sig_col = "lsh_sig"
    assert planes is not None
    qsig = None
    # compute query signature driver-side (tiny): sign of dot(q, plane)
    bits = 0
    for i, plane in enumerate(planes):
        d = sum(q * p for q, p in zip(query_vec, plane))
        if d >= 0:
            bits |= 1 << i
    qsig = bits
    cands = (
        df.select(F.col(id_col), F.col(vec_col), F.col(sig_col))
        .withColumn("__ham", hamming64(F.col(sig_col), F.lit(qsig).cast("long")))
        .orderBy(F.asc("__ham"), F.asc(id_col))
        .limit(candidate_pool)
    )
    return (
        cands.select(F.col(id_col), F.round(cosine(F.col(vec_col), query_vec), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def kmeanspp_seeds(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 8,
    decimals: int = 6,
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means||-style seeding, RNG-free and layout-
    independent -- the replacement for first-k-by-id seeds, whose
    id-correlation gives unbalanced cells on real data (ids cluster by
    ingest time/source, so the first k vectors often sit in one blob and
    every other blob funnels into few hot cells -> skewed probe costs).

    Two phases, mirroring scalable k-means|| (Bahmani et al., VLDB 2012:
    distributed oversampling then local reclustering):

    1. OVERSAMPLE (distributed, narrow): take the `oversample*k` vectors
       with the smallest (md5-bucket(id), id) sort key -- the engine's
       standard RNG-free uniform sampler (operators/sampling.py family):
       membership is a pure function of the id, so re-runs, appends and
       repartitioning reproduce the same pool, and md5 destroys any
       id-order correlation. TakeOrdered, never a full sort.
    2. RECLUSTER (driver, O(oversample*k*dim)): deterministic
       farthest-first traversal over the pool -- start at the pool's
       smallest sort key, then repeatedly take the point farthest (L2)
       from the chosen set, ties to the earliest pool index. Farthest-
       first is 2-approx for k-center, exactly the spread property cell
       balance needs; no RNG, so no seed to disagree on across engines.

    Returns [(label 0..k-1, centroid)] with components rounded to
    `decimals` (the label_centroids portability discipline). NULL
    vectors are excluded by contract.
    """
    import numpy as np

    key = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    pool = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col), key.alias("__r"))
        .orderBy(F.asc("__r"), F.asc(id_col))
        .limit(oversample * k)
        .collect()
    )
    if not pool:
        return []
    X = np.asarray([[float(x) for x in r[1]] for r in pool], dtype=np.float64)
    k = min(k, len(pool))
    chosen = [0]
    d2 = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        j = int(np.argmax(d2))  # ties -> lowest pool index (np.argmax)
        chosen.append(j)
        d2 = np.minimum(d2, ((X - X[j]) ** 2).sum(axis=1))
    return [
        (lab, [round(float(c), decimals) for c in X[j]])
        for lab, j in enumerate(chosen)
    ]


def build_ivf_index(
    df: DataFrame,
    k_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeding: str = "kmeanspp",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse index: pick k_cells deterministic seed centroids,
    assign every vector to its nearest centroid by cosine.

    `seeding`: "kmeanspp" (default -- kmeanspp_seeds' md5-oversampled
    farthest-first, balanced cells on id-correlated data) or "first"
    (first k rows by id -- the legacy convention, kept because persisted
    indexes built with it must keep probing consistently).

    Returns (indexed_df with `ivf_cell` column, centroids). At scale,
    write indexed_df partitioned by ivf_cell so probes prune partitions.

    Assignment runs Arrow-batched: one (n x dim) @ (dim x k) numpy matmul
    per batch against unit-normalized centroids, argmax per row. Cosine
    argmax == dot argmax against unit centroids (row norm is a common
    positive factor), so per-cell norm folds are never computed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    if seeding == "kmeanspp":
        centroids = kmeanspp_seeds(df, k_cells, id_col, vec_col)
    else:
        seeds = (
            df.filter(F.col(vec_col).isNotNull())
            .orderBy(F.asc(id_col))
            .limit(k_cells)
            .select(id_col, vec_col)
            .collect()
        )
        centroids = [(int(r[0]), [float(x) for x in r[1]]) for r in seeds]

    cmat = np.asarray([c for _, c in centroids], dtype=np.float64)
    norms = np.linalg.norm(cmat, axis=1)
    norms[norms == 0] = 1.0
    cmat = (cmat / norms[:, None]).T  # (dim, k) unit columns
    cell_ids = np.asarray([cid for cid, _ in centroids], dtype=np.int32)
    schema = StructType(list(df.schema.fields) + [StructField("ivf_cell", IntegerType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL vectors belong to no cell (NULL ivf_cell): probes skip
            # them and the job survives the bad record
            mask = pdf[vec_col].notna().to_numpy()
            cells = pd.array([None] * len(pdf), dtype="Int32")
            if mask.any():
                vecs = np.asarray(pdf[vec_col][mask].tolist(), dtype=np.float64)
                cells[mask] = cell_ids[np.argmax(vecs @ cmat, axis=1)]
            pdf["ivf_cell"] = cells
            yield pdf

    from .dedup import ensure_min_partitions

    # one-file scans arrive as ONE partition -- spread before the Arrow
    # kernel (r11 ensure_min_partitions find)
    return ensure_min_partitions(df).mapInPandas(assign, schema), centroids


def ivf_topk(
    indexed: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest cells, exact re-rank inside them. With the
    index partitioned by ivf_cell, the filter is partition pruning -- the
    scan never touches the other cells."""

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    probe_cells = [
        cid for cid, _ in sorted(centroids, key=lambda c: -cos(c[1], query_vec))[:nprobe]
    ]
    return (
        indexed.filter(F.col("ivf_cell").isin(probe_cells))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), query_vec), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_batch_candidates(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    decimals: int = 6,
) -> DataFrame:
    """Batch-query IVF probe: the 100 TB SERVING shape, where ANN runs
    as a query TABLE against the indexed base rather than one driver
    loop per query (ivf_topk's shape).  Three relational steps, no
    driver-side planning:

    1. probe plan: queries x broadcast(centroids) -- O(cells) rows per
       query -- ranked by the q111/q238 rounded-L2 + label tiebreak
       ``row_number() OVER (PARTITION BY query ORDER BY dist, label)``,
       kept to ``cell_rank <= nprobe``;
    2. candidate fetch: ONE equi-join of the plan against the base on
       the cell id -- with the index written ``partitionBy(cell)`` this
       is partition pruning, and the only shuffle is keyed by cell;
    3. exact re-rank material: rounded cosine per (query, candidate),
       zero-norm rows excluded on BOTH engines (a zero vector has no
       cosine; the oracle divides, so the exclusion must be mirrored,
       not defaulted).

    Returns (q_id, cell_rank, vec_id, score): callers derive ANY
    nprobe' <= nprobe curve point by filtering cell_rank (the candidate
    join is paid once for the whole curve -- q334's shape) and top-k by
    a per-query rank window (bounded by the probed cells' occupancy).
    Centroids are `label_centroids` frames (centroid_label, centroid).
    """
    if nprobe < 1:
        raise ValueError(f"ivf_batch_candidates: nprobe must be >= 1, got {nprobe}")
    qd = F.col(q_vec_col).cast("array<double>")
    q = queries.select(
        F.col(q_id_col),
        qd.alias("__qd"),
        dot(qd, qd).alias("__q_sq"),
    ).filter(F.col("__q_sq") > 0)
    cent = centroids.filter(F.col("centroid_label").isNotNull()).select(
        F.col("centroid_label").alias("__code"),
        F.col("centroid").alias("__cv"),
        dot(F.col("centroid"), F.col("centroid")).alias("__c_sq"),
    )
    dist = F.round(
        F.col("__q_sq")
        - 2 * dot(F.col("__qd"), F.col("__cv"))
        + F.col("__c_sq"),
        decimals,
    )
    wplan = Window.partitionBy(q_id_col).orderBy(
        dist.asc(), F.col("__code").asc()
    )
    plan = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cell_rank", F.row_number().over(wplan))
        .filter(F.col("cell_rank") <= nprobe)
        .select(q_id_col, "__qd", "__q_sq", "cell_rank", "__code")
    )
    vd = F.col(vec_col).cast("array<double>")
    base = assigned.filter(
        F.col(vec_col).isNotNull() & F.col(cell_col).isNotNull()
    ).select(
        F.col(id_col),
        F.col(cell_col).alias("__bcell"),
        vd.alias("__vd"),
        dot(vd, vd).alias("__v_sq"),
    ).filter(F.col("__v_sq") > 0)
    score = F.round(
        dot(F.col("__qd"), F.col("__vd"))
        / (F.sqrt(F.col("__q_sq")) * F.sqrt(F.col("__v_sq"))),
        decimals,
    )
    return (
        plan.join(base, plan["__code"] == base["__bcell"])
        .select(
            F.col(q_id_col),
            F.col("cell_rank").cast("long").alias("cell_rank"),
            F.col(id_col),
            score.alias("score"),
        )
    )


def ivf_batch_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    **kwargs,
) -> DataFrame:
    """Top-k per query over ivf_batch_candidates: the per-query rank
    window runs over the probed cells' candidates only (bounded by
    nprobe x max cell size, never the corpus)."""
    q_id_col = kwargs.get("q_id_col", "q_id")
    id_col = kwargs.get("id_col", "vec_id")
    cand = ivf_batch_candidates(
        assigned, centroids, queries, nprobe=nprobe, **kwargs
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .drop("cell_rank")
    )


def project_embeddings(
    df: DataFrame,
    axes: list[list[float]],
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    out_prefix: str = "proj_",
) -> DataFrame:
    """Project embeddings onto fixed axes (dimensionality reduction with a
    precomputed basis -- PCA axes, random projection, probe directions).

    This is the sanctioned vectorized-Python numeric path: one numpy matmul
    per Arrow batch inside mapInPandas. For k small (2-64 axes) the batch
    matmul is BLAS-bound and amortizes the Python hop across
    arrow.maxRecordsPerBatch rows; per-row Python would be ~100x slower.
    """
    import numpy as np
    import pandas as pd

    keep_cols = list(keep_cols or [])
    mat = np.asarray(axes, dtype=np.float64).T  # (dim, k)
    k = mat.shape[1]
    keep_schema = "".join(
        f"{c} {df.schema[c].dataType.simpleString()}, " for c in keep_cols
    )
    schema = keep_schema + ", ".join(f"{out_prefix}{i} double" for i in range(k))

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # NULL vectors project to NULL coordinates (not NaN -- NULL
            # survives SQL aggregation semantics, NaN poisons them); a raw
            # asarray would crash the job on one bad record
            mask = pdf[vec_col].notna().to_numpy()
            out = {c: pdf[c] for c in keep_cols}
            cols = [pd.array([None] * n, dtype="Float64") for _ in range(k)]
            if mask.any():
                vecs = np.asarray(pdf[vec_col][mask].tolist(), dtype=np.float64)
                proj = vecs @ mat  # (m, k)
                for i in range(k):
                    cols[i][mask] = proj[:, i]
            for i in range(k):
                out[f"{out_prefix}{i}"] = cols[i]
            yield pd.DataFrame(out)

    from .dedup import ensure_min_partitions

    return ensure_min_partitions(
        df.select(*keep_cols, vec_col)
    ).mapInPandas(fn, schema)


def label_centroids(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    label_col: str = "label",
    decimals: int = 6,
) -> DataFrame:
    """Per-label centroid vectors: one grouped pass with `dim` avg
    aggregates (JVM-side), reassembled into an array column.

    Components are rounded to `decimals` so the centroid is a stable,
    engine-portable constant: float summation order across rows differs
    between engines/partitionings by ~1e-16, and rounding far above that
    noise floor makes downstream distance math reproducible.

    NULL labels name no centroid: the NULL group is dropped at the
    source. Otherwise kmeans_assign can emit cell=NULL assignments,
    which a partitionBy('cell') index write routes to the default
    partition that probe-time `cell.isin(...)` can never match (NULL
    fails isin) -- indexed vectors would become silently unsearchable
    (and the phantom centroid could eat an nprobe slot). Same contract
    pq_subspace_codebooks applies to its codebook codes.
    """
    aggs = [
        F.round(F.avg(F.col(vec_col).getItem(i).cast("double")), decimals).alias(f"_c{i}")
        for i in range(dim)
    ]
    cent = df.filter(F.col(label_col).isNotNull()).groupBy(label_col).agg(*aggs)
    return cent.select(
        F.col(label_col).alias("centroid_label"),
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    decimals: int = 6,
) -> DataFrame:
    """One Lloyd assignment step: each vector joins the (tiny, broadcast)
    centroid table and keeps its nearest centroid by squared L2 distance.

    Distance uses the dot-product identity ``|a-c|^2 = a.a - 2 a.c + c.c``
    with sequential double-precision folds (functions/vectors.dot), rounded
    to `decimals`; the argmin is a ``min(struct(dist, label))`` aggregate --
    deterministic under ties by centroid label. The plan is: broadcast
    nested-loop fan-out (k rows per vector), narrow distance math, one
    hash aggregate on the vector id. Nothing wider than k x input ever
    exists, and the embedding column never shuffles -- the aggregate
    carries only (id, keep_cols, dist, label).

    The squared norms are computed ONCE per vector (before the k-way
    fan-out) and once per centroid -- array HOF folds evaluate
    interpreted per element, so only the unavoidable cross-term fold runs
    k times per row (3x fewer folds than the naive per-pair expression;
    identical doubles, since the same three dot products are summed).
    """
    keep_cols = list(keep_cols or [])
    from .dedup import ensure_min_partitions

    # the k-way fan-out's interpreted HOF folds are the CPU cost; a
    # one-file scan arrives as ONE partition, so spread first (r11
    # ensure_min_partitions find)
    df = ensure_min_partitions(df)
    # NULL vectors have no nearest centroid -- excluded by contract (a
    # NULL distance would otherwise poison the argmin struct ordering)
    left = df.filter(F.col(vec_col).isNotNull()).select(
        id_col, *keep_cols, vec_col, dot(F.col(vec_col), F.col(vec_col)).alias("__a_sq")
    )
    # Defensive twin of the label_centroids contract: a NULL-labeled
    # centroid would assign cell=NULL (unsearchable under partition
    # pruning) and NULL poisons the argmin struct ordering.
    centroids = centroids.filter(F.col("centroid_label").isNotNull())
    cent = centroids.select(
        "centroid_label",
        "centroid",
        dot(F.col("centroid"), F.col("centroid")).alias("__c_sq"),
    )
    fan = left.crossJoin(F.broadcast(cent))
    a, c = F.col(vec_col), F.col("centroid")
    dist = F.round(F.col("__a_sq") - 2 * dot(a, c) + F.col("__c_sq"), decimals)
    best = (
        fan.select(
            id_col,
            *keep_cols,
            F.struct(dist.alias("dist"), F.col("centroid_label").alias("assigned")).alias("dc"),
        )
        .groupBy(id_col, *keep_cols)
        .agg(F.min("dc").alias("dc"))
    )
    return best.select(id_col, *keep_cols, F.col("dc.assigned").alias("assigned"), F.col("dc.dist").alias("dist"))


def kmeans_iterate(
    df: DataFrame,
    k: int,
    dim: int,
    max_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    seeding: str = "first",
) -> tuple[DataFrame, DataFrame, int]:
    """Full Lloyd k-means: deterministic seeding (`seeding="first"`:
    first k vectors by id, the legacy convention existing tests and
    persisted codebooks pin; `seeding="kmeanspp"`: kmeanspp_seeds'
    md5-oversampled farthest-first -- better-balanced cells on
    id-correlated data), then assign/recompute rounds until assignments
    stop changing or `max_iters`.

    Returns (assignments, centroids, n_iters). Each round is one
    `kmeans_assign` (broadcast fan-out + hash aggregate) plus one
    centroid recompute (grouped per-dim avgs); assignments are
    `localCheckpoint`ed per round -- same lineage-truncation discipline
    as connected_components, without it the plan doubles every
    iteration. The convergence probe is a changed-assignment count:
    O(1) rows to the driver per round (an allowed driver materialization
    like the funnel counts and IVF centroids).
    """
    if seeding == "kmeanspp":
        labeled = kmeanspp_seeds(df, k, id_col, vec_col, decimals=decimals)
    else:
        seeds = (
            df.filter(F.col(vec_col).isNotNull())
            .orderBy(F.asc(id_col))
            .limit(k)
            .select(id_col, vec_col)
            .collect()
        )
        labeled = [
            (i, [round(float(x), decimals) for x in r[1]])
            for i, r in enumerate(seeds)
        ]
    centroids = local_result_frame(
        df.sparkSession, labeled, "centroid_label int, centroid array<double>"
    )
    assigned = None
    iters = 0
    for iters in range(1, max_iters + 1):
        # lazy: the changed-probe join (or round 1's centroid
        # recompute) is the materializing action -- one fewer job per
        # round (the r14 connected_components change)
        new_assigned = kmeans_assign(
            df, centroids, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=False)
        if assigned is not None:
            changed = (
                new_assigned.alias("n")
                .join(assigned.alias("p"), id_col)
                .filter(F.col("n.assigned") != F.col("p.assigned"))
                .limit(1)
                .count()
            )
            if changed == 0:
                assigned = new_assigned
                break
        assigned = new_assigned
        members = df.join(assigned.select(id_col, "assigned"), id_col)
        aggs = [
            F.round(F.avg(F.col(vec_col).getItem(i).cast("double")), decimals).alias(
                f"_c{i}"
            )
            for i in range(dim)
        ]
        centroids = (
            members.groupBy(F.col("assigned").alias("centroid_label"))
            .agg(*aggs)
            .select(
                "centroid_label",
                F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
            )
            .localCheckpoint()
        )
    return assigned, centroids, iters


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of IVF-PQ ANN.
# Scalar quantization (q134) compresses per-dimension; PQ compresses per
# SUBSPACE: split each vector into m contiguous sub-vectors, quantize each
# against a small per-subspace codebook, and a vector becomes m small
# integer codes (here 8 codes ~ 8 bytes vs 256 bytes of float32 -- the
# 32x shrink that lets a 100 TB corpus' index fit in cluster RAM).
# Query-time ADC (asymmetric distance computation) never touches the
# original vectors: the query precomputes its distance to every codeword
# (an O(m * k) table) and a vector's approximate distance is m table
# lookups + a sum. Jegou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011.
# ---------------------------------------------------------------------------


def pq_subspace_codebooks(
    centroids: DataFrame, dim: int, n_subspaces: int
) -> DataFrame:
    """Slice full-dimension codebook vectors (label_centroids /
    kmeans_iterate output: (centroid_label, centroid)) into per-subspace
    codewords: (sub, code, codeword[dim/m]). O(k*m) rows -- broadcast
    range at any corpus scale."""
    d0 = dim // n_subspaces
    # codebook codes must be dense non-null ints (the Arrow encoder packs
    # them into int arrays); a NULL-labeled centroid -- possible with
    # label-seeded codebooks over unlabeled rows -- is excluded
    centroids = centroids.filter(F.col("centroid_label").isNotNull())
    return centroids.select(
        F.col("centroid_label").alias("code"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                lambda s: F.slice("centroid", s * d0 + 1, d0),
            )
        ).alias("sub", "codeword"),
    ).select("sub", "code", "codeword")


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    dim: int,
    n_subspaces: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    decimals: int = 6,
) -> DataFrame:
    """PQ-encode every vector: (id, keep..., sub, code, dist) with `code`
    the nearest codeword of subspace `sub` by squared L2.

    Same plan shape as kmeans_assign, per subspace: explode each vector
    into its m sub-vectors (narrow), broadcast the O(k*m) codebook,
    fan out k candidates per (vector, subspace), one hash aggregate's
    min(struct(dist, code)) argmin. Sub-vector norms are computed once
    before the fan-out; the embedding column never shuffles (the
    aggregate carries only ids, codes and distances). Distances round to
    `decimals` (the label_centroids portability constant) so encodings
    are engine-reproducible.
    """
    keep_cols = list(keep_cols or [])
    d0 = dim // n_subspaces
    # NULL vectors have no nearest codeword -- excluded (same contract as
    # pq_encode_arrow and kmeans_assign)
    df = df.filter(F.col(vec_col).isNotNull())
    # cast the vector to array<double> BEFORE slicing so the exploded
    # subvec attribute is already double -- the dot folds then read a
    # bare attribute instead of re-casting every subvector (the q317
    # double-cast lesson)
    subvecs = df.select(
        id_col,
        *keep_cols,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                lambda s: F.slice(
                    F.col(vec_col).cast("array<double>"), s * d0 + 1, d0
                ),
            )
        ).alias("sub", "subvec"),
    ).withColumn("__v_sq", dot(F.col("subvec"), F.col("subvec")))
    cb = codebooks.withColumn(
        "__c_sq", dot(F.col("codeword"), F.col("codeword"))
    )
    dist = F.round(
        F.col("__v_sq")
        - 2 * dot(F.col("subvec"), F.col("codeword"))
        + F.col("__c_sq"),
        decimals,
    )
    best = (
        subvecs.join(F.broadcast(cb), "sub")
        .select(
            id_col,
            *keep_cols,
            "sub",
            F.struct(dist.alias("dist"), F.col("code").alias("code")).alias(
                "dc"
            ),
        )
        .groupBy(id_col, *keep_cols, "sub")
        .agg(F.min("dc").alias("dc"))
    )
    return best.select(
        id_col, *keep_cols, "sub",
        F.col("dc.code").alias("code"),
        F.col("dc.dist").alias("dist"),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    dim: int,
    n_subspaces: int,
    k: int = 10,
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Approximate top-k by asymmetric distance: `query` is a one-row
    DataFrame with column `qvec`; its distance to every codeword forms an
    O(m * k_codebook) lookup table, each encoded vector's distance is the
    sum of m integer table entries (micro-units: round(dist * 1e6) as
    BIGINT, so the cross-subspace sum is exact integer arithmetic --
    order-independent and engine-identical, no float summation tie to
    break at the top-k boundary). Returns (id, keep..., codes, adist_u)
    for the k nearest, deterministic under ties by id.

    The original vectors are untouched at query time: the scan reads m
    small-int codes per vector, the join is against a broadcast lookup
    table, and the top-k is TakeOrdered on an integer. Re-ranking the
    short-list against true vectors (q20's brute-force cosine) is the
    standard refinement step and composes by joining back on the id.
    """
    keep_cols = list(keep_cols or [])
    d0 = dim // n_subspaces
    qsubs = query.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                lambda s: F.slice("qvec", s * d0 + 1, d0),
            )
        ).alias("sub", "qsub")
    )
    cb = codebooks.withColumn(
        "__c_sq", dot(F.col("codeword"), F.col("codeword"))
    )
    dq = F.round(
        dot(F.col("qsub"), F.col("qsub"))
        - 2 * dot(F.col("qsub"), F.col("codeword"))
        + F.col("__c_sq"),
        decimals,
    )
    dtab = qsubs.join(F.broadcast(cb), "sub").select(
        "sub",
        "code",
        F.round(dq * F.lit(1000000.0), 0).cast("long").alias("idq"),
    )
    return (
        codes.join(F.broadcast(dtab), ["sub", "code"])
        .groupBy(id_col, *keep_cols)
        .agg(
            F.sum("idq").cast("long").alias("adist_u"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "code"))),
                    lambda s: s["code"].cast("string"),
                ),
                "-",
            ).alias("codes"),
        )
        .orderBy(F.asc("adist_u"), F.asc(id_col))
        .limit(k)
    )


def pq_encode_arrow(
    df: DataFrame,
    codebooks: DataFrame,
    dim: int,
    n_subspaces: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Scale path for PQ encoding (same contract and output schema as
    pq_encode): the expression form runs 3 interpreted HOF folds per
    (vector, subspace, codeword) -- n * m * k * d0 lambda evaluations --
    which is the engine's documented non-survivor at 100 TB. This
    variant follows the attach_sign_bits pattern: the O(m*k) codebook is
    a driver-side constant (an allowed tiny materialization, like IVF
    centroids), and each Arrow batch does ONE BLAS matmul per subspace
    (`V @ C.T`) plus a vectorized argmin.

    Parity with pq_encode: distances round to `decimals` before the
    argmin and ties break toward the LOWEST code (codewords are laid out
    code-ascending, np.argmin takes the first minimum). numpy's pairwise
    summation can differ from the sequential fold only within ~1e-13 of
    a rounding boundary -- measure-zero; equality on real data is
    asserted in tests. Keep pq_encode for oracle-matched queries; use
    this for production encode jobs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    keep_cols = list(keep_cols or [])
    d0 = dim // n_subspaces

    by_sub: dict[int, list] = {}
    for r in codebooks.select("sub", "code", "codeword").collect():
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["codeword"]])
        )
    subs = sorted(by_sub)
    code_ids, mats, csq = [], [], []
    for s in subs:
        pairs = sorted(by_sub[s])  # code-ascending: argmin tie -> lowest code
        code_ids.append(np.asarray([c for c, _ in pairs], dtype=np.int64))
        m = np.asarray([w for _, w in pairs], dtype=np.float64)
        mats.append(m)
        csq.append((m * m).sum(axis=1))

    base_fields = [
        f for f in df.schema.fields if f.name in (id_col, *keep_cols)
    ]
    schema = StructType(
        base_fields
        + [
            StructField("sub", IntegerType()),
            StructField("code", IntegerType()),
            StructField("dist", DoubleType()),
        ]
    )
    cols = [id_col, *keep_cols]

    def encode(batches):
        for pdf in batches:
            # NULL vectors are unencodable and dropped (the expression
            # path filters them identically)
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            vecs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            outs = []
            scale = 10.0 ** decimals
            for si, s in enumerate(subs):
                v = vecs[:, s * d0 : (s + 1) * d0]
                raw = (
                    (v * v).sum(axis=1)[:, None]
                    - 2.0 * (v @ mats[si].T)
                    + csq[si][None, :]
                )
                # HALF_UP (away from zero), matching F.round / the DuckDB
                # oracle -- np.round is half-to-even and would flip a code
                # whenever a distance lands exactly on a .5e-6 boundary.
                # (Residual caveat shared with any binary-double rounding:
                # Spark rounds the shortest DECIMAL repr, so a distance
                # whose binary double sits epsilon below a decimal .5
                # boundary could still differ; the identity's inputs are
                # 1e-6-rounded centroids so boundary landings are
                # measure-zero, and the encoder-equality test pins it.)
                sc = raw * scale
                d2 = np.where(sc >= 0, np.floor(sc + 0.5), -np.floor(0.5 - sc)) / scale
                j = np.argmin(d2, axis=1)
                out = pdf[cols].copy()
                out["sub"] = np.int32(s)
                out["code"] = code_ids[si][j].astype(np.int32)
                out["dist"] = d2[np.arange(len(j)), j]
                outs.append(out)
            yield pd.concat(outs, ignore_index=True)

    from .dedup import ensure_min_partitions

    return ensure_min_partitions(
        df.select(id_col, *keep_cols, vec_col)
    ).mapInPandas(encode, schema)


def reciprocal_rank_fusion(
    rankings: list[DataFrame],
    id_col: str = "vec_id",
    rank_col: str = "rk",
    k0: int = 60,
    scale: int = 1_000_000,
    out: str = "rrf",
) -> DataFrame:
    """Integer reciprocal-rank fusion (Cormack, Clarke & Buettcher,
    SIGIR 2009): fused_score(id) = sum over input rankings of
    scale // (k0 + rank).

    Fuses heterogeneous retrievers (cosine vs L2, exact vs ANN, text vs
    vector) using only each list's RANKS, so incomparable score scales
    never need calibration. Integer floor division instead of float
    1/(k0+r): the fused ORDERING is engine-exact at any LIMIT boundary
    (the q160 lift discipline). Floored reciprocals stay distinct only
    while consecutive values differ by >= 1, i.e. for ranks up to about
    sqrt(scale) - k0 (~940 at the defaults; collisions beyond that
    flatten the deep tail) -- raise `scale` when fusing lists deeper
    than that; top-k usage here (k=20, q166) is far inside the bound.

    Each input frame carries (id_col, rank_col) with 1-based ranks; an id
    absent from a list contributes 0 from it. Inputs are top-k frames
    (O(k) rows), so the union + hash aggregate is driver-window sized at
    any data scale.
    """
    from functools import reduce

    scored = [
        r.select(
            F.col(id_col),
            F.expr(f"CAST({scale} div ({k0} + {rank_col}) AS BIGINT)").alias(
                "__s"
            ),
        )
        for r in rankings
    ]
    u = reduce(lambda x, y: x.unionByName(y), scored)
    return u.groupBy(id_col).agg(F.sum("__s").cast("long").alias(out))


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 8,
    pool: int = 20,
    lam_permille: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): diversified top-k -- greedily pick the candidate
    maximizing ``lam*rel - (1000-lam)*max_sim_to_already_selected``
    (permille-weighted), so near-duplicates of an already-chosen result
    are penalized out. Returns (id, rel_micro, mmr_rank), rank 1..k.

    Distributed/driver split, stated plainly: the DISTRIBUTED work is
    the exact-cosine scan + TakeOrdered candidate pool (the q20 shape)
    and the pool's pairwise similarity matrix; the greedy itself is
    inherently SEQUENTIAL (each pick conditions the next), so it runs
    driver-side over the O(pool^2) collected matrix -- the k-means
    seed / PQ-codebook collect class (pool is a constant, never
    data-sized). Determinism: rel/sim floor-scaled to 1e6 micro-units
    (the q166 integer ranking lane), every argmax tie broken on
    ascending id; NULL and zero-norm vectors are excluded up front
    (cosine undefined -- the q23 contract).
    """
    from ..functions.vectors import cosine, norm

    assert 0 <= lam_permille <= 1000 and k >= 1 and pool >= k
    cand = (
        df.filter(F.col(vec_col).isNotNull())
        .filter(norm(F.col(vec_col)) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.floor(cosine(F.col(vec_col), query_vec) * 1e6)
            .cast("long")
            .alias("rel_micro"),
        )
        .orderBy(F.desc("rel_micro"), F.asc("id"))
        .limit(pool)
    )
    cand = cand.persist()
    a = cand.select(F.col("id").alias("ida"), F.col("v").alias("va"))
    b = cand.select(F.col("id").alias("idb"), F.col("v").alias("vb"))
    sims = (
        a.join(F.broadcast(b), F.col("ida") != F.col("idb"))
        .select(
            "ida",
            "idb",
            F.floor(cosine(F.col("va"), F.col("vb")) * 1e6)
            .cast("long")
            .alias("sim_micro"),
        )
    )
    rels = {r["id"]: r["rel_micro"] for r in cand.select("id", "rel_micro").collect()}
    sim = {(r["ida"], r["idb"]): r["sim_micro"] for r in sims.collect()}
    cand.unpersist()
    selected: list[tuple] = []
    chosen: set = set()
    while len(selected) < min(k, len(rels)):
        best = None
        for cid, rel in rels.items():
            if cid in chosen:
                continue
            if not chosen:
                score = rel  # first pick: pure relevance
            else:
                ms = max(sim[(cid, s)] for s in chosen)
                score = lam_permille * rel - (1000 - lam_permille) * ms
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel)
        selected.append((best[1], best[2], len(selected) + 1))
        chosen.add(best[1])
    return local_result_frame(
        df.sparkSession, selected, "vec_id long, rel_micro long, mmr_rank long"
    )


def mutual_nearest_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 5000,
) -> DataFrame:
    """Mutual-nearest-neighbor pairs: (a, b) where b is a's exact top-1
    cosine neighbor AND a is b's -- the high-precision alignment/
    bitext-mining primitive (a symmetric match is much stronger
    evidence than a one-directional top-1).

    Exact-audit shape, like q189's ground truth: brute-force over a
    BOUNDED set (sample or cluster block), fail-loud above `max_rows`
    (the pair join is O(n^2)); the 100 TB path blocks first (IVF
    q137 / sign-LSH q23) and runs MNN within blocks. The pair join
    BROADCASTS the right side (bounded by the same guard), so no
    shuffle forms; top-1 extraction is one (id, score desc, id asc)
    window. NULL and zero-norm vectors never rank (cosine NULL-safety
    + explicit score filter).
    """
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    )
    guard = base.agg(F.count(F.lit(1)).alias("__m"))
    gated = base.crossJoin(F.broadcast(guard)).where(
        F.assert_true(
            F.col("__m") <= F.lit(max_rows),
            F.concat(
                F.lit("mutual_nearest_pairs: input exceeds max_rows ["),
                F.col("__m").cast("string"),
                F.lit(f" rows, budget {max_rows}] -- block first "
                      "(IVF/LSH) and run MNN within blocks"),
            ),
        ).isNull()
    ).drop("__m")
    # hoist per-row norms BEFORE the pair join: the interpreted HOF
    # folds are the cost here, and cosine() inline would re-fold both
    # norms for every PAIR (3 folds/pair); precomputing leaves only the
    # dot fold pair-side (3x fewer lambda evals, arithmetic unchanged
    # -- same sqrt over the same dot, so results are bit-identical)
    from ..functions.vectors import norm as _norm

    a = gated.select(
        F.col("__id").alias("__ida"),
        F.col("__v").cast("array<double>").alias("__va"),
        _norm(F.col("__v")).alias("__na"),
    )
    b = base.select(
        F.col("__id").alias("__idb"),
        F.col("__v").cast("array<double>").alias("__vb"),
        _norm(F.col("__v")).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    scored = (
        a.join(F.broadcast(b), F.col("__ida") != F.col("__idb"))
        .select(
            "__ida",
            "__idb",
            F.round(
                F.when(
                    denom != 0,
                    dot(F.col("__va"), F.col("__vb")) / denom,
                ),
                6,
            ).alias("__score"),
        )
        .filter(F.col("__score").isNotNull())
    )
    w = Window.partitionBy("__ida").orderBy(
        F.desc("__score"), F.asc("__idb")
    )
    nn = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("__ida", "__idb", "__score")
    )
    m2 = nn.select(
        F.col("__ida").alias("__x"), F.col("__idb").alias("__y")
    )
    return (
        nn.join(
            m2,
            (F.col("__idb") == F.col("__x"))
            & (F.col("__y") == F.col("__ida"))
            & (F.col("__ida") < F.col("__x")),
        )
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.col("__score").alias("cosine_sim"),
        )
    )


def kmeans_training_curve(
    df: DataFrame,
    k: int,
    dim: int,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Lloyd k-means TRAINING CURVE with a fixed, unrolled round count:
    per (round, cluster) sizes and mean squared distance -- the
    convergence artifact that says whether the codebook is done
    improving before anyone persists an IVF index on it (q238 is the
    recall twin downstream of the trained codebook).

    Unlike kmeans_iterate (data-dependent early stop, pytest-graded),
    the round count here is FIXED, which makes every round exactly
    expressible as an unrolled SQL stage -- the oracle-gradable face
    of the same Lloyd math: seeds = first k non-NULL vectors by id
    with components rounded to `decimals` (F.round, matching SQL
    round within the continuous-tie contract of label_centroids);
    each round one kmeans_assign (broadcast k-row fan-out, argmin by
    min(struct(dist, label))) and, between rounds, one grouped
    per-dim avg recompute rounded to `decimals`. Clusters that lose
    all members simply drop from the next centroid table (both
    engines: GROUP BY emits no row). Assignments are localCheckpointed
    per round (the kmeans_iterate lineage discipline).

    Scale: per round, vectors stream once against a broadcast k-row
    centroid table and feed two hash aggregates -- embeddings never
    shuffle; the seed frame is a k-row orderBy().limit() (TakeOrdered,
    no global sort).
    """
    # every round reads emb twice (assign fan-out + centroid recompute)
    # plus the seed TakeOrdered -- persist the narrow projection once
    # instead of 2*rounds+1 scans (guide §5; a registered transient,
    # released at the next different query's entry)
    emb = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .transform(transient_persist)
    )
    w = Window.orderBy(F.asc(id_col))
    cent = (
        emb.orderBy(F.asc(id_col))
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("centroid_label"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double"), decimals),
            ).alias("centroid"),
        )
    )
    outs = []
    for r in range(rounds):
        assigned = kmeans_assign(
            emb, cent, id_col=id_col, vec_col=vec_col, decimals=decimals
        ).localCheckpoint()
        outs.append(
            assigned.groupBy("assigned").agg(
                F.lit(r).cast("long").alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_vecs"),
                (F.floor(F.avg("dist") * 10000) / 10000).alias("mean_dist"),
            )
        )
        if r < rounds - 1:
            members = emb.join(assigned.select(id_col, "assigned"), id_col)
            aggs = [
                F.round(
                    F.avg(F.col(vec_col).getItem(i).cast("double")), decimals
                ).alias(f"_c{i}")
                for i in range(dim)
            ]
            cent = (
                members.groupBy("assigned")
                .agg(*aggs)
                .select(
                    F.col("assigned").alias("centroid_label"),
                    F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias(
                        "centroid"
                    ),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "round", F.col("assigned").cast("long").alias("assigned"),
        "n_vecs", "mean_dist",
    )


def power_iteration_top_component(
    df: DataFrame,
    dim: int,
    rounds: int = 3,
    vec_col: str = "embedding",
    clip: float = 100.0,
    decimals: int = 6,
) -> DataFrame:
    """Dominant direction of the (uncentered) second-moment matrix
    M = sum_r x_r x_r^T by FIXED-round power iteration, max-normalized
    -- the top right singular direction of the embedding matrix, which
    is the axis PCA whitening removes first and embedding-drift
    investigations look along. sqrt-free: normalization divides by
    max|y| instead of the L2 norm, so every step stays inside the
    portable-rounding contract.

    Portability ladder (each step rounded to `decimals`):
    1. vectors magnitude-clipped at `clip` (the q248 contract -- an
       extreme vector pushes parallel-sum noise past the rounding
       boundary AND wrecks the moment matrix);
    2. M_ij = round(sum(x_i * x_j), 6): parallel-sum noise ~1e-13 at
       clipped magnitudes, 7 orders under the boundary;
    3. per round: y = round(M x, 6) (64-term sums), then
       x = round(y / max|y|, 6) -- division of two identically-rounded
       doubles is one IEEE op, same on both engines.
    A fixed round count makes every step an unrolled SQL stage (the
    q248/q265 training-curve discipline). Starting vector = all ones.

    Returns (dim, component, max_norm) -- `dim` is 1-based, matching
    SQL array indexing; `max_norm` (the last round's max|y|) is the
    eigenvalue estimate under the max-norm scaling. Empty input yields
    no rows. Scale: ONE pass builds the O(dim^2) moment table (the
    explode is dim^2 per row -- bounded by dim, not the corpus); every
    iteration is a join + aggregate over 4096 + 64 summary rows.
    """
    from pyspark.sql.window import Window  # noqa: F401

    emb = df.filter(
        F.col(vec_col).isNotNull()
        & (
            F.array_max(
                F.transform(
                    F.col(vec_col), lambda x: F.abs(x.cast("double"))
                )
            )
            <= clip
        )
    ).select(F.col(vec_col).alias("__e"))
    cells = (
        emb.select(
            "__e", F.posexplode("__e").alias("__i0", "__vi")
        )
        .select(
            (F.col("__i0") + 1).alias("i"),
            F.col("__vi").cast("double").alias("vi"),
            F.posexplode("__e").alias("__j0", "__vj"),
        )
        .select(
            "i",
            (F.col("__j0") + 1).alias("j"),
            (F.col("vi") * F.col("__vj").cast("double")).alias("__p"),
        )
        .groupBy("i", "j")
        .agg(F.round(F.sum("__p"), decimals).alias("v"))
        .transform(transient_persist)
    )
    spark = df.sparkSession
    x = local_result_frame(
        spark, [(i, 1.0) for i in range(1, dim + 1)], "xi int, val double"
    )
    mx = None
    for _ in range(rounds):
        y = (
            cells.join(x, cells["j"] == x["xi"])
            .groupBy("i")
            .agg(F.round(F.sum(F.col("v") * F.col("val")), decimals).alias("y"))
        )
        mx = y.agg(F.max(F.abs(F.col("y"))).alias("__mx"))
        x = (
            y.crossJoin(F.broadcast(mx))
            .select(
                F.col("i").alias("xi"),
                F.round(F.col("y") / F.col("__mx"), decimals).alias("val"),
            )
            .localCheckpoint()
        )
    out = x.crossJoin(F.broadcast(mx)).select(
        F.col("xi").cast("long").alias("dim"),
        F.col("val").alias("component"),
        F.col("__mx").alias("max_norm"),
    )
    return out


def knn_label_disagreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    max_rows: int = 5000,
) -> DataFrame:
    """Label-noise screen via k-NN majority vote: for every labeled
    vector, the majority label of its k exact cosine neighbors; a
    vector whose neighborhood outvotes its own label is a mislabeling
    CANDIDATE (confident-learning's core signal, reduced to its exact
    deterministic kernel).  The audit a supervision pipeline runs
    before training on a new label source.

    Exact-audit shape (the mutual_nearest_pairs contract verbatim):
    brute-force over a BOUNDED labeled set, fail-loud above
    ``max_rows``; the 100 TB path samples deterministically (md5-rank)
    or blocks (IVF/LSH) first.  The pair join BROADCASTS the right
    side; scores round to 6dp with (score desc, id asc) tiebreaks and
    the vote breaks ties on (count desc, label asc) -- every rank and
    vote is engine-exact.  NULL-label rows are excluded (no vote to
    cast or receive); zero-norm/NULL vectors have no cosine
    neighborhood and drop from the output (scores NULL-guarded).

    Returns one row per auditable vector: (id, label, majority_label,
    n_votes, disagree 0/1).
    """
    from ..functions.vectors import norm as _norm

    base = df.filter(
        F.col(vec_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col(label_col).alias("__l"),
    )
    guard = base.agg(F.count(F.lit(1)).alias("__m"))
    gated = base.crossJoin(F.broadcast(guard)).where(
        F.assert_true(
            F.col("__m") <= F.lit(max_rows),
            F.concat(
                F.lit("knn_label_disagreement: input exceeds max_rows ["),
                F.col("__m").cast("string"),
                F.lit(f" rows, budget {max_rows}] -- sample "
                      "deterministically (md5-rank) or block first"),
            ),
        ).isNull()
    ).drop("__m")
    a = gated.select(
        F.col("__id").alias("__ida"),
        F.col("__l").alias("__la"),
        F.col("__v").cast("array<double>").alias("__va"),
        _norm(F.col("__v")).alias("__na"),
    )
    b = base.select(
        F.col("__id").alias("__idb"),
        F.col("__l").alias("__lb"),
        F.col("__v").cast("array<double>").alias("__vb"),
        _norm(F.col("__v")).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    scored = (
        a.join(F.broadcast(b), F.col("__ida") != F.col("__idb"))
        .select(
            "__ida",
            "__la",
            "__idb",
            "__lb",
            F.round(
                F.when(
                    denom != 0,
                    dot(F.col("__va"), F.col("__vb")) / denom,
                ),
                6,
            ).alias("__s"),
        )
        .filter(F.col("__s").isNotNull())
    )
    wk = Window.partitionBy("__ida").orderBy(
        F.desc("__s"), F.asc("__idb")
    )
    nn = scored.withColumn("__rk", F.row_number().over(wk)).filter(
        F.col("__rk") <= k
    )
    votes = nn.groupBy("__ida", "__la", "__lb").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    wv = Window.partitionBy("__ida").orderBy(
        F.desc("__c"), F.asc("__lb")
    )
    wt = Window.partitionBy("__ida")
    return (
        votes.withColumn("__vr", F.row_number().over(wv))
        .withColumn("__nv", F.sum("__c").over(wt))
        .filter(F.col("__vr") == 1)
        .select(
            F.col("__ida").alias(id_col),
            F.col("__la").alias(label_col),
            F.col("__lb").alias("majority_label"),
            F.col("__nv").cast("long").alias("n_votes"),
            (~F.col("__lb").eqNullSafe(F.col("__la")))
            .cast("long")
            .alias("disagree"),
        )
    )


def quantization_topk_overlap(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_anchors: int = 150,
    base_cap: int = 4000,
    max_rows: int = 6000,
) -> DataFrame:
    """Retrieval-degradation audit for int8 scalar quantization: does
    the q134 [min, max]/255 grid CHANGE a vector's exact top-k cosine
    neighbors?  q134 reports reconstruction MSE -- a proxy; retrieval
    overlap is the metric a vector store actually cares about before
    shipping quantized embeddings.

    Per md5-rank-sampled anchor (deterministic, layout-stable): exact
    top-k by FLOAT cosine and by QUANTIZED cosine (both sides of each
    pair dequantized through the identical grid, scores rounded 6dp
    with (score desc, id asc) tiebreaks -- the q20/q298 lane), then
    |topk_f intersect topk_q| rolled up per anchor label in exact
    permille (denominator = float-lane rows actually ranked, so
    anchors with < k candidates weigh what they have).

    Domain: NULL id/vector out; vectors with non-finite or zero norm
    out (one norm-lane check covers NaN/inf/huge elements -- a finite
    norm bounds every element); a constant vector (zero grid step)
    quantizes to ITSELF (q134's sc > 0 contract); a quantized-to-zero
    vector has no quantized cosine and drops from the quant lane only
    (mirrored CASE, both engines).

    Exact-audit shape (the knn_label_disagreement contract): the BASE
    side is md5-rank-capped at ``base_cap`` (deterministic,
    layout-stable; the anchors are the first ``n_anchors`` of the SAME
    md5 order, so anchors are a prefix of the base), with the
    ``max_rows`` fail-loud guard as the backstop.  At corpus scale the
    audit stays a fixed-size sample BY CONSTRUCTION -- overlap is a
    rate, not an enumeration, and a sample estimates it.
    """
    from ..functions.vectors import norm as _norm
    from .ranking import distributed_row_number

    base0 = df.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col(label_col).alias("__l"),
    )
    withn = base0.withColumn("__nrm", _norm(F.col("__v"))).filter(
        F.col("__nrm").isNotNull()
        & (F.col("__nrm") > 0)
        & ~F.isnan(F.col("__nrm"))
        & (F.col("__nrm") < F.lit(float("inf")))
    )
    mn = F.array_min("__v")
    sc = (F.array_max("__v") - F.array_min("__v")) / F.lit(255.0)
    vq = F.when(
        (sc > 0) & ~F.isnan(sc),
        F.transform(
            F.col("__v"),
            lambda e: mn + F.floor((e - mn) / sc + F.lit(0.5)) * sc,
        ),
    ).otherwise(F.col("__v"))
    quanted = (
        withn.withColumn("__vq", vq)
        .withColumn("__nq", _norm(F.col("__vq")))
        # double-cast ONCE before the pair fan-out: casting inside
        # the pair projection would re-cast per (anchor x base) row
        .withColumn("__vd", F.col("__v").cast("array<double>"))
        .withColumn("__vqd", F.col("__vq").cast("array<double>"))
    )
    ranked = distributed_row_number(
        quanted.withColumn("__mk", F.md5(F.col("__id").cast("string"))),
        [("__mk", "asc"), ("__id", "asc")],
        out_col="__mr",
    ).filter(F.col("__mr") <= base_cap)
    guard = ranked.agg(F.count(F.lit(1)).alias("__m"))
    gated = (
        ranked.crossJoin(F.broadcast(guard))
        .where(
            F.assert_true(
                F.col("__m") <= F.lit(max_rows),
                F.concat(
                    F.lit(
                        "quantization_topk_overlap: base exceeds "
                        "max_rows ["
                    ),
                    F.col("__m").cast("string"),
                    F.lit(
                        f" rows, budget {max_rows}] -- md5-sample or "
                        "IVF-block the base first"
                    ),
                ),
            ).isNull()
        )
        .drop("__m")
        .transform(transient_persist)
    )
    anchors = (
        gated.filter(F.col("__mr") <= n_anchors)
        .select(
            F.col("__id").alias("__ida"),
            F.col("__l").alias("__la"),
            F.col("__vd").alias("__vda"),
            F.col("__nrm").alias("__na"),
            F.col("__vqd").alias("__vqda"),
            F.col("__nq").alias("__nqa"),
        )
    )
    # the pair lane is the audit's entire budget (anchors x base x TWO
    # dot products)
    pairs = (
        F.broadcast(anchors)
        .join(gated, F.col("__ida") != F.col("__id"))
        .select(
            "__ida",
            "__la",
            F.col("__id").alias("__idb"),
            F.round(
                dot(F.col("__vda"), F.col("__vd"))
                / (F.col("__na") * F.col("__nrm")),
                6,
            ).alias("__sf"),
            F.when(
                (F.col("__nqa") > 0) & (F.col("__nq") > 0),
                F.round(
                    dot(F.col("__vqda"), F.col("__vqd"))
                    / (F.col("__nqa") * F.col("__nq")),
                    6,
                ),
            ).alias("__sq"),
        )
        .transform(transient_persist)
    )
    from pyspark.sql.window import Window

    wf = Window.partitionBy("__ida").orderBy(
        F.desc("__sf"), F.asc("__idb")
    )
    wq = Window.partitionBy("__ida").orderBy(
        F.desc("__sq"), F.asc("__idb")
    )
    topf = (
        pairs.filter(F.col("__sf").isNotNull())
        .withColumn("__r", F.row_number().over(wf))
        .filter(F.col("__r") <= k)
        .select("__ida", "__la", "__idb")
    )
    topq = (
        pairs.filter(F.col("__sq").isNotNull())
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= k)
        .select(
            F.col("__ida").alias("__qa"), F.col("__idb").alias("__qb")
        )
    )
    hit = topf.join(
        topq,
        (F.col("__ida") == F.col("__qa"))
        & (F.col("__idb") == F.col("__qb")),
        "left",
    ).select(
        "__ida",
        "__la",
        F.col("__qa").isNotNull().cast("long").alias("__hit"),
    )
    return hit.groupBy(F.col("__la").alias(label_col)).agg(
        F.countDistinct("__ida").cast("long").alias("n_anchors"),
        F.count(F.lit(1)).cast("long").alias("topk_rows"),
        F.expr(
            "CAST(sum(__hit) * 1000 div count(*) AS BIGINT)"
        ).alias("overlap_permille"),
    )
