"""Persisted IVF-PQ index (plans/ann_index.py): build once, query via
partition-pruned scans, results identical to the in-memory q138 path."""

from __future__ import annotations

from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark.plans.ann_index import (
    ann_query,
    build_ann_index,
)
from bankcreditunion_datapipeline_spark.queries import registry
from bankcreditunion_datapipeline_spark.sources.files import read_testdata

SF = "/root/testdata/sf0.001"


def test_persisted_index_matches_in_memory_search(spark, tmp_path):
    emb = read_testdata(spark, SF, "embeddings")
    idx = str(tmp_path / "ann")
    build_ann_index(emb, idx, keep_cols=["label"])

    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    got = [
        (r["vec_id"], r["label"], r["cell"], r["adist_u"])
        for r in ann_query(
            spark, idx, query, k=10, nprobe=2, keep_cols=["label"]
        ).drop("codes").collect()
    ]
    want = [
        (r["vec_id"], r["label"], r["cell"], r["adist_u"])
        for r in registry()["q138_ivf_pq_search"].spark_fn(spark, SF).collect()
    ]
    assert got == want and len(got) == 10


def test_probe_is_partition_pruning(spark, tmp_path):
    emb = read_testdata(spark, SF, "embeddings")
    idx = str(tmp_path / "ann2")
    build_ann_index(emb, idx)

    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    out = ann_query(spark, idx, query, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cell IN (...) probe must land in PartitionFilters (directory
    # pruning) with a concrete probe list, not a post-scan Filter
    import re

    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)\]", plan)
    assert m, plan[plan.find("PartitionFilters") - 100 :][:400]
    assert len(m.group(1).split(",")) == 2  # nprobe cells exactly

    # and the probed scan reads strictly fewer rows than the full index
    full = spark.read.parquet(f"{idx}/vectors").count()
    probed_cells = spark.read.parquet(f"{idx}/vectors").select(
        "cell"
    ).distinct().count()
    assert probed_cells > 2  # pruning is meaningful: >2 cells exist
    assert len(out.collect()) == 5
    assert full == emb.count()


def test_incremental_append_equals_full_build(spark, tmp_path):
    from bankcreditunion_datapipeline_spark.plans.ann_index import (
        append_to_ann_index,
    )

    emb = read_testdata(spark, SF, "embeddings")
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    full_idx = str(tmp_path / "full")
    build_ann_index(emb, full_idx)
    # append's contract: the delta encodes against the EXISTING
    # centroids/codebooks. Start inc from the same structures as full
    # (build on the full corpus), truncate its vectors to half_a, then
    # append half_b -- the result must equal the full build exactly.
    inc_idx = str(tmp_path / "inc")
    build_ann_index(emb, inc_idx)
    spark.read.parquet(f"{inc_idx}/vectors").filter(
        F.col("vec_id") % 2 == 0
    ).write.mode("overwrite").partitionBy("cell").parquet(
        str(tmp_path / "keep")
    )
    spark.read.parquet(str(tmp_path / "keep")).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{inc_idx}/vectors")

    append_to_ann_index(half_b, inc_idx)

    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    got = [
        tuple(r) for r in ann_query(spark, inc_idx, query, k=10, nprobe=2)
        .drop("codes").collect()
    ]
    want = [
        tuple(r) for r in ann_query(spark, full_idx, query, k=10, nprobe=2)
        .drop("codes").collect()
    ]
    assert got == want and len(got) == 10


def test_null_label_rows_never_create_unsearchable_cells(spark, tmp_path):
    """NULL labels name no centroid (label_centroids contract): without
    the filter, kmeans_assign emits cell=NULL rows that partitionBy woud
    write to the Hive default partition -- unreachable by the probe's
    cell.isin(...), i.e. silently unsearchable vectors."""
    import os

    emb = read_testdata(spark, SF, "embeddings")
    with_null_labels = emb.withColumn(
        "label",
        F.when(F.col("vec_id") % 5 == 0, F.lit(None)).otherwise(F.col("label")),
    )
    idx = str(tmp_path / "ann_null")
    build_ann_index(with_null_labels, idx, keep_cols=["label"])

    # no default-partition directory: every vector landed in a real cell
    cells = [
        d for d in os.listdir(f"{idx}/vectors") if d.startswith("cell=")
    ]
    assert not any("HIVE_DEFAULT" in d for d in cells), cells
    n_indexed = spark.read.parquet(f"{idx}/vectors").count()
    assert n_indexed == with_null_labels.filter(F.col("embedding").isNotNull()).count()
    # and no NULL-label centroid survives to eat an nprobe slot
    cent = spark.read.parquet(f"{idx}/centroids")
    assert cent.filter(F.col("centroid_label").isNull()).count() == 0


def test_batch_probe_gets_dynamic_partition_pruning(spark, tmp_path):
    # r13: the BATCH probe (ivf_batch_candidates, q334's operator) over a
    # cell-partitioned persisted index must prune partitions via Spark's
    # Dynamic Partition Pruning -- the probe plan's nprobe cells arrive as
    # a join side, not a driver literal, so the prune is a
    # dynamicpruningexpression on the partition column (the distributed
    # twin of test_probe_is_partition_pruning's static IN prune). Results
    # must equal the in-memory path row for row.
    from bankcreditunion_datapipeline_spark.operators.similarity import (
        ivf_batch_candidates,
        kmeans_assign,
        label_centroids,
    )

    emb = read_testdata(spark, SF, "embeddings")
    cent = label_centroids(emb, dim=64).persist()
    asg = kmeans_assign(emb, cent).select(
        "vec_id", F.col("assigned").alias("cell")
    )
    base = emb.select("vec_id", "embedding").join(asg, "vec_id")
    idx = str(tmp_path / "vecs")
    base.write.partitionBy("cell").parquet(idx)
    persisted = spark.read.parquet(idx)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_batch_candidates(persisted, cent, queries, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = sorted(
        (r["q_id"], r["cell_rank"], r["vec_id"], r["score"])
        for r in out.collect()
    )
    want = sorted(
        (r["q_id"], r["cell_rank"], r["vec_id"], r["score"])
        for r in ivf_batch_candidates(
            base, cent, queries, nprobe=2
        ).collect()
    )
    assert got == want and len(got) > 0
