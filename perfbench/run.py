"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root (or any checkout of it). One run:

1. generates the workload's inputs from the seed under ``.perfbench/``;
2. set-up: starts the engine session (JVM included) and runs one untimed
   warm-up pass -- ``setup_s``;
3. runs timed passes, each against a freshly built session so no engine
   cache carries over, until ``--seconds`` have been measured; each
   operation's wall time and the CPU time of the process tree
   (procstat.py) are recorded -- ``items_per_cpu_s``;
4. with ``--trace 1``, runs one more pass with spans and Spark counters
   (see spans.py) and reports per-layer metrics instead of end-to-end ones;
5. re-times q01 in a fresh session as a host-noise canary;
6. checks every timed operation's output and prints one JSON line.

See NOTES.md for what each metric means and the pitfalls met on the way.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "bankcreditunion_datapipeline_spark"

E2E_UNITS = {
    "setup_s": "s",
    "items_per_cpu_s": "1/s",
}

# Per-layer metrics printed by every traced run (0 where the workload does
# not reach the layer). The corpus and iterative workloads add their own.
# wall.* and cpu.* come from the run's timed passes, the others from the
# traced pass.
LAYER_METRICS = (
    "medallion.bronze_s", "medallion.silver_s", "medallion.gold_s",
    "sources.scan_s", "sources.bytes_read",
    "clean.s", "clean.rows_in", "clean.rows_quarantined", "clean.accept_ratio",
    "conform.s", "conform.shuffle_bytes", "conform.rows_deduped",
    "analytics.pivot_s", "analytics.pivot_cols",
    "sinks.write_s", "sinks.files_written", "sinks.bytes_written", "sinks.write_amp",
    "mix.plan_s", "mix.exec_s", "mix.driver_s", "mix.driver_share",
    "mix.jobs_per_query", "mix.stages_per_query", "mix.tasks_per_query",
    "lanes.first_consumer_s", "lanes.later_consumer_s",
    "arrow.python_bytes",
    "caching.storage_peak_mb", "caching.cached_rdds_peak", "caching.transients_peak",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.driver_s",
    "wall.items_per_s", "wall.op_p50_s", "wall.op_p80_s",
    "cpu.op_p50_s", "cpu.op_p80_s", "cpu.jit_share", "host.steal_share",
    "peak_rss_mb", "trace.overhead_s", "canary.q01_s", "error_rate",
)


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from its name."""
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "share", "amp", "error_rate")):
        return "ratio"
    return "count"


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Process environment for the engine; returns the Spark confs to add.

    Spark's Python workers import the engine by module path, so the
    repository root must be on PYTHONPATH (sys.path alone only reaches the
    driver). Temporary and shuffle files stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # spark-submit's short-lived launcher JVM would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a heap fixed at its maximum: heap resizing made set-up times vary
    # about twice as much across runs of one seed; a fixed set of JIT
    # compiler threads, so procstat finds them all when the JVM starts
    return {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:-UseDynamicNumberOfCompilerThreads"}


class Sessions:
    """Builds, restarts and finally shuts down the engine's sessions."""

    # the status store must keep every job of a traced pass
    TRACED = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }

    def __init__(self, conf: dict[str, str]) -> None:
        self.conf = conf
        self.spark = None

    def fresh(self, traced: bool = False):
        """A new session, on a heap cleared of earlier passes' garbage (the
        pass that came next otherwise paid a varying share of collecting
        it: the JVM's GC threads used 1.4 s in one query_mix pass, 3.2 s
        in the next)."""
        from bankcreditunion_datapipeline_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = dict(self.conf, **(self.TRACED if traced else {}))
        self.spark = build_session(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext._jvm.System.gc()
        return self.spark

    def storage(self) -> dict:
        from bankcreditunion_datapipeline_spark.caching import storage_status

        return storage_status(self.spark)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 -- escalate below
                proc.kill()
                proc.wait(timeout=30)


def canary(sessions: Sessions, star_dir: str) -> float:
    """Wall time of q01 in its own fresh session."""
    from bankcreditunion_datapipeline_spark.queries import registry

    spark = sessions.fresh()
    t0 = perf_counter()
    registry()["q01_pricing_summary"].spark_fn(spark, star_dir).toPandas()
    return perf_counter() - t0


def run(args: argparse.Namespace, work: str) -> dict:
    import gen
    from procstat import host_steal_s, tree_peak_rss_mb
    from stats import percentile
    from spans import NoTrace, Tracer
    from workloads import STAR, WORKLOADS

    sessions = Sessions(configure_env(work))
    wl = WORKLOADS[args.workload]()
    wl.prepare(work, args.seed)
    star = getattr(wl, "star", None)
    if star is None:
        star = os.path.join(work, "canary-star")
        gen.write_star(star, args.seed, **STAR)
    untraced = NoTrace()
    storage_peak = {"mem_bytes": 0, "n_cached_rdds": 0, "n_transients": 0}

    def note_storage():
        st = sessions.storage()
        for k in storage_peak:
            storage_peak[k] = max(storage_peak[k], st[k])

    try:
        t0 = perf_counter()
        wl.run_pass(sessions.fresh(), untraced)
        setup_s = perf_counter() - t0

        # an odd number of passes, so the median is one measured pass (the
        # first pass after the warm-up still runs slower than the rest)
        passes = []
        measured = steal = 0.0
        while measured < args.seconds or len(passes) % 2 == 0:
            spark = sessions.fresh()
            s0 = host_steal_s()
            p = wl.run_pass(spark, untraced)
            steal += host_steal_s() - s0
            note_storage()
            passes.append(p)
            measured += p.seconds

        traced = None
        if args.trace:
            tr = Tracer(f"trace{args.seed}")
            spark = sessions.fresh(traced=True)
            tr.bind(spark)
            with wl.layer_spans(tr), tr.span("pass"):
                traced = wl.run_pass(spark, tr)
            tr.collect(spark)

        canary_s = canary(sessions, star)
        print(f"# canary.q01_s {canary_s:.4f}", file=sys.stderr)
        peak_rss = tree_peak_rss_mb()
    finally:
        sessions.close()

    checked = [op for p in passes + ([traced] if traced else []) for op in p.ops]
    failed = 0
    for op in checked:
        err = op.error or wl.check(op)
        if err:
            failed += 1
            print(f"# FAILED {args.workload} {op.label}: {err}", file=sys.stderr)
    ops = [op for p in passes for op in p.ops]
    if len(ops) > len(passes):
        print("# ops " + " ".join(f"{op.label.split('_')[0]}={op.seconds:.3f}/{op.work_cpu:.2f}"
                                  for op in passes[-1].ops), file=sys.stderr)
    walls = [op.seconds for op in ops]
    work_cpu = [op.work_cpu for op in ops]
    timed = {
        "items_per_cpu_s": wl.items * len(passes) / sum(work_cpu),
        "wall.items_per_s": wl.items * len(passes) / sum(walls),
        "wall.op_p50_s": percentile(walls, 50),
        "wall.op_p80_s": percentile(walls, 80),
        "cpu.op_p50_s": percentile(work_cpu, 50),
        "cpu.op_p80_s": percentile(work_cpu, 80),
        "cpu.jit_share": sum(op.jit for op in ops) / sum(op.cpu for op in ops),
        "host.steal_share": steal / (measured * os.cpu_count()),
    }
    print(
        f"# {args.workload} seed={args.seed} setup={setup_s:.3f}s passes="
        + ",".join(f"{p.seconds:.3f}" for p in passes) + " "
        + " ".join(f"{k}={v:.5g}" for k, v in timed.items()),
        file=sys.stderr,
    )

    if not args.trace:
        values = {"setup_s": setup_s, "items_per_cpu_s": timed["items_per_cpu_s"]}
        units = E2E_UNITS
    else:
        values = dict.fromkeys(LAYER_METRICS, 0)
        if not any(op.error for op in traced.ops):  # a failed op is counted, not broken down
            values.update(wl.layer_metrics(tr, traced))
        units = {k: unit_of(k) for k in values}
        totals = tr.totals()
        values.update({f"spark.{k}": totals[k] for k in (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_s")})
        values["arrow.python_bytes"] = totals["python_bytes"]
        values["caching.storage_peak_mb"] = storage_peak["mem_bytes"] / 2**20
        values["caching.cached_rdds_peak"] = storage_peak["n_cached_rdds"]
        values["caching.transients_peak"] = storage_peak["n_transients"]
        values.update({k: v for k, v in timed.items() if k in values})
        values["trace.overhead_s"] = traced.seconds - statistics.median(p.seconds for p in passes)
        values["canary.q01_s"] = canary_s
        values["error_rate"] = failed / len(checked)
        values["peak_rss_mb"] = peak_rss
        tr.write(
            os.path.join(os.path.dirname(work), f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": values},
        )
    return {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isdir(os.path.join(ROOT, "tools")):
        print(f"perfbench: no {ENGINE}/ and tools/ next to perfbench/ -- run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
