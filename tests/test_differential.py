"""Adversarial-corpus differential (tools/fuzz_oracle.py) as a CI gate.

The full 130-query sweep is a tool run; CI covers the high-risk subset:
queries whose twins touch the divergence classes the mutations target --
tokenization of degenerate text (the q127 class), float rounding of
divisions by counts (the q67 class), signed zeros (q73), JSON edge
shapes (q43/q68), date boundaries, and dangling keys (outer joins).
Both engines read the same mutated parquet, so any mismatch is a real
twin divergence, not a data bug.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SUBSET = [
    "q17_text_profile",
    "q29_token_frequency",
    "q37_part_name_tokens",
    "q43_json_extract",
    "q44_deterministic_sample",
    "q48_p95_length_filter",
    "q62_long_token_arrays",
    "q65_capitalized_mentions",
    "q67_daily_rollup_from_hourly",
    "q68_event_prop_keys",
    "q73_source_lang_entropy",
    "q76_boilerplate_fraction",
    "q82_exact_jaccard_pairs",
    "q95_order_count_distribution",
    "q104_token_budget_selection",
    "q119_promo_revenue_share",
    "q124_calibrated_quality_rank",
    "q127_export_manifest",
    "q131_boilerplate_strip",
    "q134_embedding_quantization",
    # NULL sort-end pinning (Spark NULLS FIRST vs DuckDB NULLS LAST)
    "q139_order_window_shapes",
    "q64_order_value_deciles",
    # native session_window's NULL-timestamp drop contract
    "q26_user_sessions",
    # double->int cast rounding (DuckDB rounds, Spark truncates)
    "q145_benford_order_values",
    # numpy-vs-sequential sign parity + zero-norm cosine NULL contract
    "q23_embedding_near_dups",
    # per-key EWMA recursion replay (bit-identical IEEE step-for-step)
    # + the r5 NULL-skip contract
    "q143_daily_value_ewma",
    # median/MAD robust scores (percentile-interpolation parity under
    # mutated/NULL measures -- the q141 estimator class)
    "q141_robust_daily_scores",
    # integer-cents Pareto crossing + distributed_cumsum bucketed within
    # year (r13 rewire: exact commutative sums, x1e6 ladder guard)
    "q146_revenue_pareto",
    # r13: the window sum's NULL-skip replayed as a coalesce-to-0 prefix
    # in the source-bucketed distributed_cumsum (NULL-text docs keep
    # their pack in q75 / drop at the filter in q104)
    "q75_sequence_packing",
    # portable md5-lane near-dup twins (hex-string lanes, band keys,
    # 60-bit simhash votes) -- new r5 oracle classes
    "q21_minhash_near_dups",
    "q22_simhash_near_dups",
    # the staged funnel composition oracle (clean->lang->quality->p95->
    # dedup->near-dedup->split counts)
    "q49_curation_funnel",
    # r5 divergence classes held as regressions (r5 VERDICT #4):
    # integer PageRank recurrence replay (floor-div damping, exact)
    "q147_supplier_pagerank",
    # Count-Min min-probe (never-underestimate invariant)
    "q150_countmin_user_counts",
    # growth accounting's all-new-day NULL-sum class
    "q156_growth_accounting",
    # conversion-latency percentile parity
    "q159_time_to_convert",
    # grouped top-k: salted aggregate vs window-form oracle agreement
    "q161_top_parts_per_customer",
    # r6 portable bit-op classes: 60-bit bitmap words + shifts (DuckDB
    # range-errors on 1<<63 where Java wraps) and bit_xor digest folds
    "q165_bloom_membership",
    "q167_bucket_checksum_diff",
    # integer-RRF fusion of two float-derived rank lanes (floor-truncated
    # score keys, NaN/huge/zero-norm exclusion parity)
    "q166_rank_fusion",
    # ln over exact 48-bit-lane uniforms: Java Math.log vs libm log
    # selection parity at the top-k boundary (Efraimidis-Spirakis)
    "q173_weighted_order_sample",
    # r6 divergence classes held as regressions (r6 VERDICT #3):
    # multiplicity-preserving shingle counts (Gopher dup-gram mass)
    "q168_duplicate_ngram_mass",
    # sweep-line island closure (interval union boundary semantics)
    "q169_activity_coverage",
    # LPA struct-argmax tiebreak ((count DESC, label ASC) determinism)
    "q171_purchase_communities",
    # exclusive bucket-prefix window (skyline dominance at bucket edges)
    "q172_price_recency_skyline",
    # signature monoid rollup (per-lane min merge across grains)
    "q174_source_similarity_rollup",
    # r7: sliding-gram span excision (coverage-sweep boundary semantics,
    # case-folded gram lane vs original-token reassembly)
    "q175_duplicate_span_removal",
    # r7: integer log-bucket lane (binary-string log2 vs bin(), shift
    # parity, integer-permille rank targets, floor-div interpolation)
    "q176_order_value_log_quantiles",
    # r8: grouped extraction (per-group cum/total windows, NULL group)
    "q177_priority_value_log_quantiles",
    # r8: synchronous-peel round replay (dangling keys mutate the graph)
    "q178_purchase_graph_kcore",
    # r8: prefix-filter vs brute-force two-strategy agreement under
    # degenerate/empty/whitespace text
    "q179_prefix_jaccard_pairs",
    # r8: slicing boundary semantics on degenerate text (empty, single
    # word, whitespace runs)
    "q180_document_chunks",
    # r8: declared-domain gate (negative/zero/1e6 values) + date lane
    "q182_event_value_quantile_drift",
    # r8: HLL exact-regime contract under mutated days/NULL users
    "q183_rolling_active_users",
    # r8: bloom-pruned join == plain join under dangling custkeys
    "q184_bloom_pruned_join",
    # r8: NULL/zero-norm vector exclusion + greedy-pick replay on the
    # transform-lane vector oracle (the ::DOUBLE[]-under-window class)
    "q188_mmr_diversified_topk",
    # r8: shared-shingle-space subset ratio under degenerate text
    "q189_lsh_recall_audit",
    # r8: lag-window sequence order under equal timestamps (event_id
    # tiebreak) + NULL state/key/ts exclusion
    "q191_event_transitions",
    # r8: exact integer KS sup (cross-multiplied CDFs, smallest-value
    # argmax tiebreak) under mutated priority mixes
    "q192_ks_price_drift",
    # r8: NULL group stratum in the null-safe scaffold join (the
    # DIVIDE_BY_ZERO fuzz find) + positive-domain gate
    "q193_benford_amounts",
    # r8: second-truncated step durations, zero-span keys dropped
    "q194_time_weighted_exposure",
    # r8: largest-remainder determinism (remainder ties -> group order)
    "q195_training_quota_allocation",
    # r8: degree-1 neighbor exclusion + ln-lane weights under mutated
    # hub degrees (budget rides the distinct edge table)
    "q196_adamic_adar_links",
    # r8: positive Lucene idf at corpus-dominating df; term-filtered
    # token stream under degenerate/NULL text
    "q197_bm25_retrieval",
    # r8: x2/x4 interpolated-median lanes + degenerate MAD=0 groups
    "q198_robust_price_outliers",
    # r8: rank-tie invariance + permille-split division lane
    "q199_revenue_gini",
    # r8: quota under-fill (stratum smaller than its slot count) and
    # md5-rank selection stability on the mutated corpus
    "q200_quota_stratified_sample",
    # r8: lag-2 trigram windows under equal timestamps (event_id
    # tiebreak) + NULL event_type exclusion
    "q201_top_event_paths",
    # r8: session-boundary arithmetic on second-truncated gaps (the
    # >= 1800s edge), bounce/duration floor-div lanes, min-ts day
    "q202_daily_session_stats",
    # r8: vocab-collapse weighting under mutated text (repeated words,
    # single-char words guarded out, in-word pair multiplicity)
    "q203_bpe_pair_candidates",
    # r8: within-block pair orientation + levenshtein parity under
    # mutated name multiplicities
    "q204_fuzzy_name_matches",
    # r8: null-safe state-change detection (NULL event_type excluded by
    # the declared domain; same-ts tiebreak) + open-interval flag
    "q205_user_state_history",
    # r8: full-outer presence markers under %-derived add/delete/change
    # lanes; IS DISTINCT FROM on a DOUBLE column
    "q206_snapshot_column_diff",
    # r8: negative-dividend div/// parity in the slope lane + lower
    # median rank under mutated month mixes
    "q207_revenue_trend_theil_sen",
    # r8: datediff-anchor dow lane + floor-div residuals under mutated
    # day/NULL-ts mixes
    "q208_dow_seasonal_residuals",
    # r8: top-k vocab tiebreak (freq desc, word asc) + occurrence
    # counting under degenerate/whitespace text
    "q209_oov_by_lang",
    # r8: integer keep test at every cutoff; NULL-text exclusion (the
    # least()-scores-NULL-as-0 class, caught by the unit test)
    "q210_quality_threshold_sweep",
    # r8: symmetric top-1 under NULL/zero-norm vectors on the
    # list_transform oracle lane
    "q211_mutual_nearest_pairs",
    # r8: ntile bucket parity + corpus-max recency anchor under mutated
    # order dates
    "q212_rfm_segments",
    # r8: global-sort neighbor windows under mutated vocab (NULL names
    # dropped by the vocabulary contract)
    "q213_snm_name_candidates",
    # r8: unnormalized integer half-rounds vs MATERIALIZED unrolled
    # oracle under dangling keys
    "q214_part_authorities",
    # r8: divide-first lift split + min-count prune under mutated token
    # streams
    "q215_collocation_lift",
    # r8: floor-permille shares + NULL source/text exclusion on the
    # log-bucket lane
    "q216_source_length_similarity",
    # r8: divide-first skew split + TakeOrdered hitter under mutated
    # key multiplicities and NULL keys
    "q217_partkey_skew_report",
    # r8: NULL-rhs-counts-as-value contract under mutated part rows
    "q218_fd_violation_report",
    # r8: planted whitespace variants must collapse on the mutated
    # corpus too (normalization under NULL/degenerate text)
    "q219_dup_cluster_sizes",
    # r8: childless-parent LEFT-join surface + exact cents equality
    # under the mutated orders/lineitem mix
    "q220_order_total_reconciliation",
    # r8: second-truncated gap lane + grouped log-bucket replay under
    # NULL ts/user/type
    "q221_event_gap_quantiles",
    # r8: top-k tiebreak + actual-set-size Jaccard under mutated days
    "q222_topk_user_stability",
    # r8: bigram first-appearance attribution under degenerate text
    "q223_vocab_growth_curve",
    # r8: fingerprint distinct-rate under planted/NULL text
    "q224_source_dup_rate",
    # r8: deterministic-tiebreak rank difference lane under mutated
    # lengths (ties abound on degenerate text)
    "q225_length_quality_spearman",
    # r8: NULL-day stratum in the full-outer delta merge + monolith
    # equality under the mutated date mix
    "q226_incremental_daily_revenue",
    # r8: greedy replay + the sequence(1,0)-descends guard on
    # single-word docs (caught by this very corpus)
    "q227_coverage_corpus_picks",
    # r8: ntile-tier x distinct-buyer LEFT join under mutated events
    "q228_segment_conversion",
    # r8: floor-mean split lane + earliest-split tiebreak under
    # mutated/NULL-ts days
    "q229_event_level_change_point",
    # r10: NULL event_type is a real daily SERIES in the corpus -- the
    # per-key recursion oracles must advance the NULL group null-safe
    # (an equality join silently drops it past rn=1)
    "q143_daily_value_ewma",
    "q252_holt_revenue_forecast",
    # r10: calendar day-7 naive baseline must stay on phase across the
    # corpus's planted 2-day gap (row-lag-7 slips), + the NULL stratum
    "q288_forecast_skill_benchmark",
    # r10: sources-UNION-targets state universe + NULL state replay in
    # the absorption recursion
    "q285_purchase_absorption",
    # r10: factor-guarded dispersion budget over the NULL-type series
    "q286_event_burstiness",
]

# r7 VERDICT #8: the log-bucket lane stressed AT its guard boundary --
# exact powers of two ride in the shared corpus (orders 9-11); the
# top-of-lane rows (cents == 2^59 and 2^60-128) are --extreme because
# IEEE double-sum lanes legitimately diverge by summation order at
# ~1e16 and those queries never promised exactness there. Only the
# integer-lane sketch queries run against the extreme corpus.
EXTREME_SUBSET = [
    "q176_order_value_log_quantiles",
    "q177_priority_value_log_quantiles",
]


def test_adversarial_extreme_boundary_matches():
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "fuzz_oracle.py"),
            "--extreme",
            "/root/testdata/sf0.001",
            *EXTREME_SUBSET,
        ],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stdout[-4000:] + r.stderr[-2000:]


def test_adversarial_subset_matches():
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "fuzz_oracle.py"),
            "/root/testdata/sf0.001",
            *SUBSET,
        ],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stdout[-4000:] + r.stderr[-2000:]


def test_q37_hash_ignores_part_row_order(spark, tmp_path):
    # avg_price floors a mean: over an exact integer sum of cents it is
    # the same whatever order the rows are summed in, on Spark and on the
    # DuckDB oracle (a floored avg() of doubles flipped a cent on
    # row-shuffled copies)
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from bankcreditunion_datapipeline_spark.queries import registry
    from tools.check_correctness import frame_hash

    q = registry()["q37_part_name_tokens"]
    part = pq.read_table("/root/testdata/sf0.001/part.parquet")
    hashes = set()
    for seed in range(5):
        sf_dir = tmp_path / f"shuffled{seed}"
        sf_dir.mkdir()
        perm = np.random.default_rng(seed).permutation(part.num_rows)
        pq.write_table(part.take(perm), sf_dir / "part.parquet")
        hashes.add(frame_hash(q.spark_fn(spark, str(sf_dir)).toPandas()))
        con = duckdb.connect()
        con.sql(f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf_dir}/part.parquet')")
        hashes.add(frame_hash(con.sql(q.oracle).df()))
    hashes.add(frame_hash(q.spark_fn(spark, "/root/testdata/sf0.001").toPandas()))
    assert len(hashes) == 1


def test_q189_hash_same_without_broadcast(spark, sf_dir):
    # q189's recall join leaves the broadcast-vs-shuffle choice to the
    # planner; the shuffle arm (broadcast disabled) must give the same
    # result as the default session
    from bankcreditunion_datapipeline_spark.queries import registry
    from tools.check_correctness import frame_hash

    q = registry()["q189_lsh_recall_audit"]
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = frame_hash(q.spark_fn(spark, sf_dir).toPandas())
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = frame_hash(q.spark_fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set(key, old)
    assert shuffled == default
