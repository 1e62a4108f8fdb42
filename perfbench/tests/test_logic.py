"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, covered, parse_size, self_times  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_bronze_generator_is_deterministic_per_seed(tmp_path):
    small = {"n_banks": 40, "n_cus": 30}
    a = gen.write_bronze(str(tmp_path / "a"), 5, **small)
    b = gen.write_bronze(str(tmp_path / "b"), 5, **small)
    c = gen.write_bronze(str(tmp_path / "c"), 6, **small)
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert a != c
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_bronze_expectations_are_consistent(tmp_path):
    e = gen.write_bronze(str(tmp_path / "b"), 3, n_banks=60, n_cus=40)
    assert e["quarantine_rows"] == sum(e["quarantine"].values()) > 0
    assert e["silver_rows"] + e["quarantine_rows"] < e["bronze_rows"]
    assert e["pivot_cols"] == 4
    assert e["directory_rows"] >= e["pivot_rows"]


def test_star_generator_shuffles_rows_not_content(tmp_path):
    import pyarrow.parquet as pq

    args = {"sf": 0.001, "n_docs": 60, "n_emb": 40}
    gen.write_star(str(tmp_path / "a"), 1, **args)
    gen.write_star(str(tmp_path / "b"), 1, **args)
    gen.write_star(str(tmp_path / "c"), 2, **args)
    gen.write_star(str(tmp_path / "u"), None, **args)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    for table in ("documents", "lineitem", "embeddings"):
        rows = {}
        for copy in "acu":
            t = pq.read_table(str(tmp_path / copy / f"{table}.parquet"))
            rows[copy] = t.to_pylist()
        assert rows["a"] != rows["c"]  # another order
        key = lambda r: json.dumps(r, sort_keys=True, default=str)  # noqa: E731
        assert sorted(rows["a"], key=key) == sorted(rows["u"], key=key)
        assert sorted(rows["c"], key=key) == sorted(rows["u"], key=key)


def test_tail_percentile_rule():
    # the highest percentile with at least ten samples beyond it
    assert tail_percentile(50) == 80.0
    assert tail_percentile(49) == 75.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None
    # the mix is sized so that op_p80_s is the rule's tail percentile
    assert tail_percentile(len(workloads.QueryMix.queries)) == 80.0


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 80) == pytest.approx(4.2)
    assert percentile(xs, 100) == 5.0
    assert percentile([7.0], 80) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "pass", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: union 1..6
        Span(3, "c", 2, 3.5, 4.5),
        Span(4, "d", 0, 8.0, 9.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - 5 - 1)
    assert got[1] == pytest.approx(3)
    assert got[2] == pytest.approx(3 - 1)
    assert got[3] == pytest.approx(1)
    assert got[4] == pytest.approx(1)


def test_parse_size_reads_the_total():
    assert parse_size("total (min, med, max)\n1.5 KiB (100.0 B, 200.0 B, 1.0 KiB)") == 1536
    assert parse_size("12.0 B") == 12
    assert parse_size("n/a") == 0


def test_every_metric_name_is_well_formed():
    names = list(run.E2E_UNITS) + list(run.LAYER_METRICS)
    names += list(workloads.ITERATIVE.values())
    names += [f"curation.{k}_rows" for k in workloads.CURATION_STAGES]
    names += [f"release.{k}_s" for k in workloads.RELEASE_STAGES]
    for name in names:
        assert NAME.match(name), name
    assert len(set(names)) == len(names)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == list(run.LAYER_METRICS)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])



# burns 0.3 s of CPU, then waits for a line on stdin before exiting
BUSY_CHILD = """
import time
t = time.process_time()
while time.process_time() - t < 0.3:
    pass
input()
"""


def test_process_tree_cpu_counts_live_and_reaped_children():
    import subprocess
    import time

    import procstat

    assert os.getpid() in procstat.tree_pids()
    before, jit_before = procstat.cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BUSY_CHILD], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 10
        while procstat.cpu_s()[0] - before < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.tree_pids()
        assert procstat.cpu_s()[0] - before >= 0.25  # counted while alive
    finally:
        child.communicate(b"\n")
    total, jit = procstat.cpu_s()
    assert total - before >= 0.25  # and still counted once reaped
    assert jit == jit_before == 0  # no JVM in this tree
    assert procstat.host_steal_s() >= 0
