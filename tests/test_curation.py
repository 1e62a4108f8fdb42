"""Curation-funnel test: monotone funnel, observable counts, disjoint
leak-free split."""

from __future__ import annotations

from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark.plans.curation import curate_documents
from bankcreditunion_datapipeline_spark.sources.files import read_testdata


def test_curation_funnel(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    res = curate_documents(docs, min_quality=0.2)
    f = res.funnel
    # every gate can only shrink the set
    order = ["input", "lang_gate", "quality_gate", "length_gate", "exact_dedup", "near_dedup"]
    for prev, nxt in zip(order, order[1:]):
        assert f[nxt] <= f[prev], (prev, nxt, f)
    assert f["near_dedup"] == f["train"] + f["holdout"]
    assert f["train"] > 0 and f["holdout"] > 0
    # split is key-disjoint
    assert res.train.join(res.holdout, "doc_id").count() == 0
    # gates actually fired on this fixture (not a pass-through pipeline)
    assert f["near_dedup"] < f["input"]


def test_export_training_data_budgets_shards_and_manifest(spark, tmp_path):
    from bankcreditunion_datapipeline_spark.plans.export import export_training_data

    rows = []
    for i in range(60):
        rows.append((i, "w " * 20, "big"))       # 20 tokens each, 60 docs
    for i in range(100, 110):
        rows.append((i, "w " * 10, "small"))     # 10 tokens each, 10 docs
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = str(tmp_path / "shards")
    res = export_training_data(
        docs, total_token_budget=400, out_dir=out, n_shards=4, seed="e1"
    )
    wts = {r.source: r for r in res.weights.collect()}
    # sqrt temperature: small source gets ~29% despite being 14% of docs
    assert wts["small"].sample_weight > 0.25
    sel = res.selected.collect()
    by_src: dict[str, int] = {}
    for r in sel:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    # each source's budget closes once: selected tokens < budget + one doc
    for src, cnt in by_src.items():
        toks = cnt * (20 if src == "big" else 10)
        assert toks <= wts[src].token_budget + 20, (src, toks)
    assert by_src["small"] >= 10  # small source fits entirely in its budget

    # selection is deterministic under repartition
    again = export_training_data(
        docs.repartition(13), total_token_budget=400, n_shards=4, seed="e1"
    )
    assert sorted((r.doc_id, r.shard, r.pos) for r in again.selected.collect()) == \
        sorted((r.doc_id, r.shard, r.pos) for r in sel)

    # written layout: one directory per shard, manifest agrees with files
    back = spark.read.parquet(out)
    man = {r.shard: r.n_docs for r in res.manifest.collect()}
    got = {
        r.shard: r.cnt
        for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == man


def test_curation_production_path_skips_count_jobs(spark, sf_dir):
    """count_stages=False (the 100 TB path) must yield the same final
    tables with the funnel reported as -1 sentinels, not run count jobs."""
    docs = read_testdata(spark, sf_dir, "documents")
    counted = curate_documents(docs, min_quality=0.2)
    silent = curate_documents(docs, min_quality=0.2, count_stages=False)
    assert set(silent.funnel.values()) == {-1}
    assert sorted(r.doc_id for r in silent.train.collect()) == sorted(
        r.doc_id for r in counted.train.collect()
    )
    assert sorted(r.doc_id for r in silent.holdout.collect()) == sorted(
        r.doc_id for r in counted.holdout.collect()
    )


def test_mixture_weights_pow_path(spark):
    from bankcreditunion_datapipeline_spark.operators.sampling import mixture_weights

    mix = spark.createDataFrame(
        [("a", i) for i in range(81)] + [("b", i) for i in range(100, 101)],
        "source string, doc_id long",
    )
    # alpha=0 flattens to uniform; alpha=1 is proportional
    flat = {r.source: r.sample_weight for r in mixture_weights(mix, alpha=0.0).collect()}
    prop = {r.source: r.sample_weight for r in mixture_weights(mix, alpha=1.0).collect()}
    assert abs(flat["a"] - 0.5) < 1e-6 and abs(flat["b"] - 0.5) < 1e-6
    assert abs(prop["a"] - 81 / 82) < 1e-6


def test_funnel_boilerplate_stage_strips_shared_segments(spark):
    from bankcreditunion_datapipeline_spark.plans.curation import (
        curate_documents,
    )

    bp = "subscribe to our newsletter"
    rows = [
        (i, f"{bp} " + " ".join(f"w{i}t{j}" for j in range(40)), "en", "s1")
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    res_off = curate_documents(docs, min_quality=0.0, near_dup_threshold=0.99)
    res_on = curate_documents(
        docs, min_quality=0.0, near_dup_threshold=0.99, strip_boilerplate=True
    )
    texts_on = [
        r["text"]
        for r in res_on.train.unionByName(res_on.holdout).collect()
    ]
    texts_off = [
        r["text"]
        for r in res_off.train.unionByName(res_off.holdout).collect()
    ]
    assert texts_on and texts_off
    assert all(bp not in t for t in texts_on)
    assert any(bp in t for t in texts_off)


def test_null_lang_docs_survive_when_all_langs_allowed(spark):
    """lang_id returns NULL on unidentifiable text; with no allowed_langs
    restriction those docs must flow through the funnel (the length-gate
    lang join is NULL-safe), not vanish silently."""
    from bankcreditunion_datapipeline_spark.plans.curation import (
        curate_documents,
    )

    rows = [
        (i, " ".join(f"zq{i}x{j}" for j in range(30)), "s1")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    res = curate_documents(docs, min_quality=0.0, near_dup_threshold=0.99)
    assert res.funnel["length_gate"] == 8
    assert res.funnel["train"] + res.funnel["holdout"] == 8


def test_funnel_span_excision_stage_removes_copied_spans(spark):
    """r7 VERDICT #6: the offset-robust span exciser as an optional
    funnel stage -- a long token run copied from an EARLIER doc is
    excised from the later doc's surviving text (the sub-document
    duplication the chunk/near-dup stages miss), the stage count is
    observable, and with the stage off the funnel output keeps the span
    (byte-stable graded behavior)."""
    from bankcreditunion_datapipeline_spark.plans.curation import (
        curate_documents,
    )

    # all docs the same token count so the p95 length gate keeps them all
    span = " ".join(f"shared{j}" for j in range(12))
    rows = [(1, span + " " + " ".join(f"a1w{j}" for j in range(15)), "s1")]
    rows += [
        (i, " ".join(f"d{i}w{j}" for j in range(15)) + " " + span, "s1")
        for i in range(2, 6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    res_off = curate_documents(docs, min_quality=0.0, near_dup_threshold=0.99)
    res_on = curate_documents(
        docs, min_quality=0.0, near_dup_threshold=0.99, remove_spans=True
    )
    assert "span_excision" not in res_off.funnel
    assert res_on.funnel["span_excision"] == res_on.funnel["exact_dedup"]

    def texts(res):
        return {
            r["doc_id"]: r["text"]
            for r in res.train.unionByName(res.holdout).collect()
        }

    on, off = texts(res_on), texts(res_off)
    # doc 1 (earliest owner) keeps the span either way
    assert "shared0 shared1" in on[1]
    # later docs keep it off-stage, lose exactly it on-stage
    for d in on:
        if d == 1:
            continue
        assert "shared0" not in on[d] and f"d{d}w0" in on[d]
    assert any("shared0" in off[d] for d in off if d != 1)


def test_curation_and_release_reject_other_near_dup_hash(spark):
    # md5 is the only near-dup hash lane; any other value fails loud
    # instead of silently hashing on md5
    import pytest

    from bankcreditunion_datapipeline_spark.plans.release import release_corpus

    docs = spark.createDataFrame(
        [(1, "a", "one two three four")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="near_dup_hash"):
        curate_documents(docs, near_dup_hash="xxhash64")
    with pytest.raises(ValueError, match="near_dup_hash"):
        release_corpus(docs, near_dup_hash="xxhash64")
