"""Persisted ANN index: the IVF-PQ structures (q137/q138) as tables on
disk, laid out so a query is a partition-pruned scan of code rows.

Three artifacts under `index_dir`:

- ``vectors/`` -- (vec_id, keep..., codes array<int>) partitioned by
  ``cell``: the coarse IVF cell is the DIRECTORY KEY, so probing nprobe
  cells is partition pruning (the scan never lists, opens, or reads the
  other cells), and PQ codes are the only per-vector payload (~m small
  ints vs dim floats: the ~32x shrink that makes a 100 TB corpus'
  search structure scan-able).
- ``centroids/`` -- O(k_cells) full-dimension coarse centroids.
- ``codebooks/`` -- O(m * k_codes) per-subspace codewords.

Build cost: one assignment pass + one encode pass over the corpus, both
broadcast-fan-out + hash-aggregate shapes (see similarity.pq_encode) --
no shuffle wider than (id, codes). Queries read centroids+codebooks
(dim-sized) to the driver, compute the ADC lookup table, and scan ONLY
the probed partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    kmeans_assign,
    label_centroids,
    pq_adc_topk,
    pq_encode_arrow,
    pq_subspace_codebooks,
)


def build_ann_index(
    emb: DataFrame,
    index_dir: str,
    dim: int = 64,
    n_subspaces: int = 8,
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> None:
    """Build and persist the IVF-PQ index for an embedding table."""
    keep_cols = list(keep_cols or [])
    cent = label_centroids(emb, dim=dim)
    cb = pq_subspace_codebooks(cent, dim=dim, n_subspaces=n_subspaces)

    assigned = kmeans_assign(emb, cent, id_col=id_col).select(
        id_col, F.col("assigned").alias("cell")
    )
    # production encode: Arrow-batched BLAS (code-identical to the
    # expression form, asserted in tests/test_similarity.py)
    codes = pq_encode_arrow(
        emb, cb, dim=dim, n_subspaces=n_subspaces,
        id_col=id_col, keep_cols=keep_cols,
    )
    wide = (
        codes.groupBy(id_col, *keep_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
        .join(assigned, id_col)
    )
    wide.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, "vectors")
    )
    cent.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(index_dir, "codebooks"))


def ann_query(
    spark: SparkSession,
    index_dir: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    dim: int = 64,
    n_subspaces: int = 8,
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k by ADC against the persisted index. `query` is a one-row
    DataFrame with column `qvec` (same contract as pq_adc_topk).

    The probe-cell filter is `cell IN (...)` over the PARTITION column --
    directory pruning, asserted in tests. Everything vector-sized that
    reaches the executors is the broadcast codeword table; the probed
    partitions contribute only (id, codes) rows.
    """
    from ..functions.vectors import dot

    keep_cols = list(keep_cols or [])
    cent = spark.read.parquet(os.path.join(index_dir, "centroids"))
    cb = spark.read.parquet(os.path.join(index_dir, "codebooks"))

    qdist = F.round(
        dot(F.col("qvec"), F.col("qvec"))
        - 2 * dot(F.col("qvec"), F.col("centroid"))
        + dot(F.col("centroid"), F.col("centroid")),
        6,
    )
    probes = [
        r["cell"]
        for r in query.crossJoin(F.broadcast(cent))
        .select(F.col("centroid_label").alias("cell"), qdist.alias("qd"))
        .orderBy(F.asc("qd"), F.asc("cell"))
        .limit(nprobe)
        .collect()
    ]

    probed = spark.read.parquet(os.path.join(index_dir, "vectors")).filter(
        F.col("cell").isin(probes)
    )
    long_codes = probed.select(
        id_col,
        *keep_cols,
        "cell",
        F.posexplode("codes").alias("sub", "code"),
    )
    return pq_adc_topk(
        long_codes, cb, query, dim=dim, n_subspaces=n_subspaces, k=k,
        id_col=id_col, keep_cols=[*keep_cols, "cell"],
    )


def append_to_ann_index(
    emb_delta: DataFrame,
    index_dir: str,
    dim: int = 64,
    n_subspaces: int = 8,
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> None:
    """Incremental index maintenance: encode ONLY the delta against the
    EXISTING centroids/codebooks and append its code rows to the
    partitioned table -- the index twin of incremental_exact_dedup's
    delta-vs-index shape. The corpus already indexed does zero work; the
    delta pays one assignment + one encode pass. Queries see old and new
    rows identically (same codebooks, same partition key).

    Codebook drift: appended vectors quantize against the ORIGINAL
    codebooks, so reconstruction error grows if the delta's distribution
    shifts -- monitor with operators/drift.py over the cell histogram
    and rebuild when PSI crosses the alert threshold (the standard
    IVF-PQ reindexing policy).
    """
    keep_cols = list(keep_cols or [])
    spark = emb_delta.sparkSession
    cent = spark.read.parquet(os.path.join(index_dir, "centroids"))
    cb = spark.read.parquet(os.path.join(index_dir, "codebooks"))

    assigned = kmeans_assign(emb_delta, cent, id_col=id_col).select(
        id_col, F.col("assigned").alias("cell")
    )
    codes = pq_encode_arrow(
        emb_delta, cb, dim=dim, n_subspaces=n_subspaces,
        id_col=id_col, keep_cols=keep_cols,
    )
    wide = (
        codes.groupBy(id_col, *keep_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
        .join(assigned, id_col)
    )
    wide.write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, "vectors")
    )
