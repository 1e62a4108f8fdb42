"""The benchmark's four workloads.

Each workload generates its inputs from the run's seed (`prepare`), runs
one closed-loop pass against a fresh session (`run_pass`: one client
issuing the engine's public calls one after another), checks each
operation's output outside the timed region (`check`), and turns a traced
pass into per-layer metrics (`layer_metrics`).

Why each workload exists, and what its seed varies:

* ``medallion`` -- the reference's own job (bronze -> silver -> gold), the
  write-heavy path with no Python workers and no lanes. The seed drives
  the bronze generator. An operation is one whole pipeline run.
* ``corpus`` -- the training-data flagships (q49's curation funnel, then
  q332's release with its shard write). The seed shuffles the documents'
  and embeddings' row order and file split. An operation is one funnel
  plus release.
* ``query_mix`` -- short registry queries where planning, job scheduling
  and driver time dominate, plus the q21 shared-lane family. The seed sets
  the query order. An operation is one query.
* ``iterative`` -- the iterative similarity/graph tail. The seed sets the
  query order. An operation is one query.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

import gen
from procstat import cpu_s

#: star-schema scale shared by corpus, query_mix, iterative and the canary
STAR = {"sf": 0.01, "n_docs": 250, "n_emb": 500}

# Short-when-cold registry queries (about 0.1-0.35 s each on 4 cores at
# the STAR scale) spread over joins, windows, events, text and vectors,
# none of them reading a shared lane (q60/q91 share a CC lane and q82
# builds a 3-gram lane: whichever ran first paid, which moved op_p80_s
# from run to run), plus the six consumers of the q21 MinHash pair lane.
# q335 (streaming replay) is left out: it runs for tens of seconds cold.
MIX_SHORT = [
    "q06_top_orders", "q10_customers_without_big_orders",
    "q12_customer_running_total", "q15_events_hourly", "q17_text_profile",
    "q19_fingerprint", "q20_embedding_topk", "q24_media_metadata",
    "q26_user_sessions", "q27_asof_last_purchase", "q28_unpivot_quarters",
    "q29_token_frequency", "q30_name_edit_distance", "q31_quarters_per_flag",
    "q32_cube_region_segment", "q36_quantity_price_stats",
    "q37_part_name_tokens", "q38_grouping_sets_sql", "q43_json_extract",
    "q46_text_cleanup", "q47_rolling_90d_revenue", "q48_p95_length_filter",
    "q50_large_volume_orders", "q53_modal_priority", "q56_pii_masking",
    "q62_long_token_arrays", "q65_capitalized_mentions",
    "q74_priority_price_median", "q78_stratified_caps", "q80_document_chunking",
    "q83_event_funnel", "q84_above_brand_average", "q85_label_centroids",
    "q87_hof_word_stats", "q92_weighted_sample", "q95_order_count_distribution",
    "q96_large_volume_customers", "q97_priority_returned_orders",
    "q106_value_histogram", "q122_epoch_permutation", "q169_activity_coverage",
    "q173_weighted_order_sample", "q205_user_state_history",
    "q208_dow_seasonal_residuals",
]
LANE_FAMILY = [
    "q21_minhash_near_dups", "q256_split_balance_audit",
    "q261_dedup_scope_planning", "q272_post_dedup_token_budget",
    "q275_dup_chain_depth_audit", "q276_dup_graph_assortativity",
]
# query -> per-layer metric holding its traced wall time
ITERATIVE = {
    "q317_quantization_retrieval_audit": "similarity.topk_s",
    "q248_kmeans_training_curve": "similarity.kmeans_s",
    "q281_embedding_top_component": "similarity.power_iter_s",
    "q334_ivf_batch_recall": "similarity.ivf_s",
    "q232_seeded_customer_ppr": "graph.ppr_s",
    "q214_part_authorities": "graph.hits_s",
}

BRONZE_TABLES = ["fdic_institutions", "fdic_financials", "ncua_foicu", "ncua_fs220", "ncua_fs220d"]
CURATION_STAGES = [
    "input", "lang_gate", "quality_gate", "length_gate", "exact_dedup",
    "near_dedup", "holdout", "train",
]
RELEASE_STAGES = [
    "gates_agg", "length_gate", "exact_dedup", "near_pairs_probe", "near_cc",
    "near_dedup", "sem_pairs_probe", "sem_cc", "semantic_dedup",
    "contamination_gate", "final_cells",
]
# q332's release configuration (registry: q332_corpus_release_manifest),
# without its shared-lane injections
Q332_CONFIG = {
    "near_dup_hash": "md5", "total_token_budget": 10000, "n_shards": 4,
    "allowed_langs": None, "min_quality": 0.2, "length_quantile": 0.95,
}
# q49's funnel configuration (registry: q49_curation_funnel)
Q49_CONFIG = {
    "min_quality": 0.2, "near_dup_hash": "md5", "near_dup_hashes": 16,
    "near_dup_bands": 8,
}


@dataclass
class Op:
    label: str
    seconds: float
    output: object = None
    error: str | None = None
    cpu: float = 0.0  # CPU seconds of the process tree (procstat.cpu_s)
    jit: float = 0.0  # ... of which the JVM's JIT compiler threads

    @property
    def work_cpu(self) -> float:
        """CPU seconds of the operation without the JIT compiler."""
        return self.cpu - self.jit


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return sum(op.seconds for op in self.ops)


def _timed(label: str, fn) -> Op:
    c0, j0 = cpu_s()
    t0 = perf_counter()
    try:
        out, err = fn(), None
    except Exception as e:  # noqa: BLE001 -- a failed operation is counted, the loop goes on
        out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
    wall = perf_counter() - t0
    c1, j1 = cpu_s()
    return Op(label, wall, out, err, c1 - c0, j1 - j0)


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _span_sum(tr, prefix: str, what: str = "duration") -> float:
    spans = [s for s in tr.spans if s.name.startswith(prefix)]
    if what == "duration":
        return sum(s.duration for s in spans)
    return sum(s.spark.get(what, 0) + s.counts.get(what, 0) for s in spans)


# ---------------------------------------------------------------------------
# oracle hashes (DuckDB over the same parquet), cached per data content
# ---------------------------------------------------------------------------


class Oracles:
    """Registry oracle results over a star directory, hashed like the
    repository's correctness checker. The star content does not depend on
    the run's seed, so hashes are cached on disk under `cache_dir`."""

    def __init__(self, star_dir: str, cache_dir: str, shuffled: bool) -> None:
        self.star_dir = star_dir
        self.cache_dir = cache_dir
        self._con = None
        with open(gen.__file__, "rb") as fh:
            # a query whose result depends on row order would get another
            # oracle answer on a shuffled copy, so the layout is in the key
            content = fh.read() + json.dumps([STAR, shuffled]).encode()
        self._data_key = hashlib.sha256(content).hexdigest()[:16]

    def _connect(self):
        import duckdb

        from tools.check_correctness import TABLES

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.star_dir, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        return con

    def hash(self, sql: str) -> tuple[int, list[str], str]:
        """(rows, sorted columns, value hash) of `sql`'s result."""
        from tools.check_correctness import frame_hash

        key = hashlib.sha256((self._data_key + sql).encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        if self._con is None:
            self._con = self._connect()
        pdf = self._con.sql(sql).df()
        out = (len(pdf), sorted(pdf.columns), frame_hash(pdf))
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(out, fh)
        os.replace(path + ".tmp", path)
        return out


def frame_matches(pdf, expected: tuple) -> str | None:
    """None when `pdf` has the oracle's rows, columns and value hash."""
    from tools.check_correctness import frame_hash

    rows, cols, h = expected
    if len(pdf) != rows or sorted(pdf.columns) != list(cols):
        return f"shape {len(pdf)}x{sorted(pdf.columns)} != {rows}x{cols}"
    got = frame_hash(pdf)
    return None if got == h else f"value hash {got} != {h}"


# ---------------------------------------------------------------------------
# medallion
# ---------------------------------------------------------------------------


class Medallion:
    name = "medallion"

    def prepare(self, work: str, seed: int) -> None:
        self.bronze = os.path.join(work, "bronze")
        self.out = os.path.join(work, "gold")
        self.expect = gen.write_bronze(self.bronze, seed)
        self.items = self.expect["bronze_rows"]
        self._n = 0

    def run_pass(self, spark, tr) -> Pass:
        from bankcreditunion_datapipeline_spark.plans.medallion import build_silver, run_gold
        from bankcreditunion_datapipeline_spark.sources.files import read_parquet

        self._n += 1
        out_dir = os.path.join(self.out, f"run{self._n}")

        def pipeline():
            with tr.span("medallion.bronze"), tr.span("sources.read_parquet"):
                bronze = [
                    tr.boundary(read_parquet(spark, os.path.join(self.bronze, t)))
                    for t in BRONZE_TABLES
                ]
            with tr.span("medallion.silver"):
                res = build_silver(*bronze)
                silver = tr.boundary(res.financial_institution)
                quarantine = tr.boundary(res.quarantine)
            with tr.span("medallion.gold"):
                run_gold(silver, out_dir)
            with tr.span("medallion.quarantine"):
                rows = quarantine.groupBy("_source", "_reject_reason").count().collect()
            return out_dir, {f"{r[0]}|{r[1]}": r[2] for r in rows}

        return Pass([_timed("pipeline", pipeline)])

    def check(self, op: Op) -> str | None:
        import pyarrow.dataset as ds

        out_dir, quarantine = op.output
        e = self.expect
        if quarantine != e["quarantine"]:
            return f"quarantine {quarantine} != {e['quarantine']}"

        def table(name, columns=None):
            return ds.dataset(os.path.join(out_dir, name), format="parquet", partitioning="hive").to_table(columns=columns)

        def leaf_dirs(name):
            return sum(
                1 for root, _, files in os.walk(os.path.join(out_dir, name))
                if any(f.endswith(".parquet") for f in files)
            )

        fact = table("assets_deposits_by_state", ["institution_type", "assets_total"])
        sums = {
            r["institution_type"]: r["assets_total_sum"]
            for r in fact.group_by("institution_type").aggregate([("assets_total", "sum")]).to_pylist()
        }
        got = {
            "silver_rows": fact.num_rows,
            "assets_by_type": sums,
            "directory_rows": table("institutions_directory_by_type", ["charter_number"]).num_rows,
            "directory_partitions": leaf_dirs("institutions_directory_by_type"),
            "fact_partitions": leaf_dirs("assets_deposits_by_state"),
        }
        for name in ("quarterly_assets_table", "quarterly_deposits_table"):
            t = table(name)
            got[f"{name}.rows"] = t.num_rows
            got[f"{name}.cols"] = t.num_columns - 3
        want = {k: e[k] for k in ("silver_rows", "assets_by_type", "directory_rows", "directory_partitions", "fact_partitions")}
        for name in ("quarterly_assets_table", "quarterly_deposits_table"):
            want[f"{name}.rows"] = e["pivot_rows"]
            want[f"{name}.cols"] = e["pivot_cols"]
        bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
        return f"gold mismatch (got, want): {bad}" if bad else None

    @contextmanager
    def layer_spans(self, tr):
        """Wrap the layer functions the medallion plan calls (clean,
        conform, analytics, sinks) in spans that persist and count their
        outputs."""
        from bankcreditunion_datapipeline_spark import sinks
        from bankcreditunion_datapipeline_spark.plans import medallion as plan

        orig = {
            (plan, "apply_with_quarantine"): plan.apply_with_quarantine,
            (plan, "union_conform"): plan.union_conform,
            (plan, "dedup_keyed"): plan.dedup_keyed,
            (plan, "pivot_by_period"): plan.pivot_by_period,
            (sinks, "write_gold"): sinks.write_gold,
        }

        def clean(df, spec):
            with tr.span("clean.apply_with_quarantine") as s:
                s.counts["rows_in"] = df.count()
                good, bad = orig[(plan, "apply_with_quarantine")](df, spec)
                return tr.boundary(good, "rows_clean"), tr.boundary(bad, "rows_quarantined")

        def union(dfs, *a, **k):
            with tr.span("conform.union_conform"):
                return tr.boundary(orig[(plan, "union_conform")](dfs, *a, **k))

        def dedup(df, key, *a, **k):
            with tr.span("conform.dedup_keyed") as s:
                s.counts["rows_in"] = df.count()
                return tr.boundary(orig[(plan, "dedup_keyed")](df, key, *a, **k), "rows_out")

        def pivot(df, keys, *a, **k):
            with tr.span("analytics.pivot_by_period") as s:
                out = tr.boundary(orig[(plan, "pivot_by_period")](df, keys, *a, **k))
                s.counts["cols"] = len(out.columns) - len(keys)
                return out

        def write(df, path, *a, **k):
            with tr.span("sinks.write_gold") as s:
                orig[(sinks, "write_gold")](df, path, *a, **k)
                s.counts["files"], s.counts["bytes"] = _tree_size(path)

        wrappers = {"apply_with_quarantine": clean, "union_conform": union, "dedup_keyed": dedup,
                    "pivot_by_period": pivot, "write_gold": write}
        for (mod, attr) in orig:
            setattr(mod, attr, wrappers[attr])
        try:
            yield
        finally:
            for (mod, attr), fn in orig.items():
                setattr(mod, attr, fn)

    def layer_metrics(self, tr, p: Pass) -> dict:
        def one(name):
            spans = tr.by_name(name)
            return spans[0].duration if spans else 0.0

        clean_in = _span_sum(tr, "clean.", "rows_in")
        pivots = tr.by_name("analytics.pivot_by_period")
        dedups = tr.by_name("conform.dedup_keyed")
        written = _span_sum(tr, "sinks.", "bytes")
        conform = [s for s in tr.spans if s.name.startswith("conform.")]
        return {
            "medallion.bronze_s": one("medallion.bronze"),
            "medallion.silver_s": one("medallion.silver"),
            "medallion.gold_s": one("medallion.gold"),
            "sources.scan_s": one("sources.read_parquet"),
            "sources.bytes_read": _span_sum(tr, "sources.", "input_bytes"),
            "clean.s": _span_sum(tr, "clean."),
            "clean.rows_in": clean_in,
            "clean.rows_quarantined": _span_sum(tr, "clean.", "rows_quarantined"),
            "clean.accept_ratio": _span_sum(tr, "clean.", "rows_clean") / clean_in if clean_in else 0.0,
            "conform.s": _span_sum(tr, "conform."),
            "conform.shuffle_bytes": sum(s.spark.get("shuffle_write_bytes", 0) for s in conform),
            "conform.rows_deduped": sum(s.counts["rows_in"] - s.counts["rows_out"] for s in dedups),
            "analytics.pivot_s": _span_sum(tr, "analytics."),
            "analytics.pivot_cols": pivots[0].counts["cols"] if pivots else 0,
            "sinks.write_s": _span_sum(tr, "sinks."),
            "sinks.files_written": _span_sum(tr, "sinks.", "files"),
            "sinks.bytes_written": written,
            "sinks.write_amp": written / self.expect["bronze_bytes"],
        }


# ---------------------------------------------------------------------------
# star-schema workloads
# ---------------------------------------------------------------------------


class _Star:
    """Shared input handling for the workloads over the registry tables."""

    #: read a seed-shuffled copy of the tables (row order and file split)
    shuffled = True

    def prepare(self, work: str, seed: int) -> None:
        self.star = os.path.join(work, "star")
        gen.write_star(self.star, seed if self.shuffled else None, **STAR)
        self.oracles = Oracles(self.star, os.path.join(os.path.dirname(work), "oracle-cache"), self.shuffled)
        self.out = os.path.join(work, "out")
        self._n = 0

    @contextmanager
    def layer_spans(self, tr):
        yield


class Corpus(_Star):
    name = "corpus"

    def prepare(self, work: str, seed: int) -> None:
        super().prepare(work, seed)
        self.items = STAR["n_docs"]

    def run_pass(self, spark, tr) -> Pass:
        from pyspark.sql import functions as F

        from bankcreditunion_datapipeline_spark.plans.curation import curate_documents
        from bankcreditunion_datapipeline_spark.plans.release import release_corpus
        from bankcreditunion_datapipeline_spark.sources.files import read_parquet

        self._n += 1
        out_dir = os.path.join(self.out, f"run{self._n}")

        def funnel_and_release():
            import pandas as pd

            docs = read_parquet(spark, os.path.join(self.star, "documents.parquet"))
            emb = read_parquet(spark, os.path.join(self.star, "embeddings.parquet"))
            with tr.span("curation.curate_documents"):
                cur = curate_documents(docs, **Q49_CONFIG)
            timings: dict = {}
            with tr.span("release.release_corpus"):
                rel = release_corpus(
                    docs,
                    benchmark=docs.filter(F.col("doc_id") % 97 == 0),
                    embeddings=emb,
                    out_dir=out_dir,
                    timings=timings,
                    **Q332_CONFIG,
                )
                manifest = rel.manifest.toPandas()
            funnel = pd.DataFrame(
                [(k, int(v)) for k, v in cur.funnel.items()], columns=["stage", "n_rows"]
            )
            return funnel, manifest, timings

        return Pass([_timed("funnel+release", funnel_and_release)])

    def check(self, op: Op) -> str | None:
        from bankcreditunion_datapipeline_spark.queries import registry

        funnel, manifest, _ = op.output
        reg = registry()
        for label, pdf, q in (("q49 funnel", funnel, "q49_curation_funnel"),
                              ("q332 manifest", manifest, "q332_corpus_release_manifest")):
            err = frame_matches(pdf, self.oracles.hash(reg[q].oracle))
            if err:
                return f"{label}: {err}"
        return None

    def layer_metrics(self, tr, p: Pass) -> dict:
        funnel, _, timings = p.ops[0].output
        rows = dict(zip(funnel["stage"], funnel["n_rows"]))
        out = {
            "curation.s": _span_sum(tr, "curation."),
            "release.s": _span_sum(tr, "release."),
        }
        out.update({f"curation.{k}_rows": int(rows.get(k, 0)) for k in CURATION_STAGES})
        out.update({f"release.{k}_s": float(timings.get(k, 0.0)) for k in RELEASE_STAGES})
        return out


class _Queries(_Star):
    """A fixed set of registry queries, run in a seed-shuffled order."""

    queries: list[str] = []

    def prepare(self, work: str, seed: int) -> None:
        super().prepare(work, seed)
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)
        self.items = len(self.order)

    def run_pass(self, spark, tr) -> Pass:
        from bankcreditunion_datapipeline_spark.queries import registry

        reg = registry()
        p = Pass()
        for name in self.order:
            def query(name=name):
                with tr.span(f"query.{name}") as s:
                    df = reg[name].spark_fn(spark, self.star)
                    if s is not None:
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tr.span("exec"):
                            return df.toPandas()
                    return df.toPandas()

            p.ops.append(_timed(name, query))
        return p

    def check(self, op: Op) -> str | None:
        from bankcreditunion_datapipeline_spark.queries import registry

        return frame_matches(op.output, self.oracles.hash(registry()[op.label].oracle))

    def per_query(self, tr) -> dict[str, dict]:
        out = {}
        for s in tr.spans:
            if s.name.startswith("query."):
                tot = tr.totals(s.id)
                kids = {c.name: c.duration for c in tr.spans if c.parent == s.id}
                out[s.name[len("query."):]] = dict(tot, wall=s.duration, plan=kids.get("plan", 0.0), exec=kids.get("exec", 0.0))
        return out


class QueryMix(_Queries):
    name = "query_mix"
    queries = MIX_SHORT + LANE_FAMILY
    # q37_part_name_tokens floors an avg() of doubles, whose last bits
    # depend on summation order: on shuffled copies (seeds 11, 12, 13) its
    # value hash differed from the oracle's. That order dependence is an
    # engine bug to fix; until then the mix reads the tables in generation
    # order and the seed only sets the query order.
    shuffled = False

    def prepare(self, work: str, seed: int) -> None:
        super().prepare(work, seed)
        # the lane family keeps its own order inside the shuffled mix, so
        # the same consumer (q21) pays the lane build in every run; which
        # consumer pays changed a pass's time by up to 2.5 s
        slots = iter(LANE_FAMILY)
        self.order = [next(slots) if q in LANE_FAMILY else q for q in self.order]

    def layer_metrics(self, tr, p: Pass) -> dict:
        pq_ = self.per_query(tr)
        n = len(pq_)
        walls = sum(v["wall"] for v in pq_.values())
        lanes = [pq_[q]["wall"] for q in self.order if q in LANE_FAMILY]
        return {
            "mix.plan_s": statistics.median(v["plan"] for v in pq_.values()),
            "mix.exec_s": statistics.median(v["exec"] for v in pq_.values()),
            "mix.driver_s": statistics.median(v["driver_s"] for v in pq_.values()),
            "mix.driver_share": sum(v["driver_s"] for v in pq_.values()) / walls,
            "mix.jobs_per_query": sum(v["jobs"] for v in pq_.values()) / n,
            "mix.stages_per_query": sum(v["stages"] for v in pq_.values()) / n,
            "mix.tasks_per_query": sum(v["tasks"] for v in pq_.values()) / n,
            "lanes.first_consumer_s": lanes[0],
            "lanes.later_consumer_s": statistics.median(lanes[1:]),
        }


class Iterative(_Queries):
    name = "iterative"
    queries = list(ITERATIVE)

    def layer_metrics(self, tr, p: Pass) -> dict:
        pq_ = self.per_query(tr)
        out = {metric: pq_[q]["wall"] for q, metric in ITERATIVE.items()}
        out["iterative.jobs_per_query"] = sum(v["jobs"] for v in pq_.values()) / len(pq_)
        return out


WORKLOADS = {w.name: w for w in (Medallion, Corpus, QueryMix, Iterative)}
