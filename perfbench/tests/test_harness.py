"""Tests of the benchmark's own code: failure counting, job
attribution, metric names and the missing-program exit. Run with
``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import harness
from oracle import OracleChecker
from workloads import WORKLOADS, Workload, all_op_ids

from cs_pipeline_spark.registry import QuerySpec

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
ORACLE = "SELECT x, x * 2 AS y FROM t"


def good(spark, d):
    return spark.read.parquet(f"{d}/t.parquet").selectExpr("x", "x * 2 AS y")


def wrong(spark, d):
    return spark.read.parquet(f"{d}/t.parquet").selectExpr("x", "x * 2 + 1 AS y")


def raising(spark, d):
    raise ValueError("planted failure")


def pooled(spark, d):
    """Runs two jobs from pool threads while building, as the engine's
    concurrent flagships do."""
    sc = spark.sparkContext
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(lambda _: sc.parallelize(range(10), 2).count(), range(2)))
    return spark.range(3)


@pytest.fixture
def table_dir(tmp_path):
    pq.write_table(pa.table({"x": [1, 2, 3]}), tmp_path / "t.parquet")
    return tmp_path


def _runner(spark, d, fns, trace):
    specs = {name: QuerySpec(fn=fn, oracle=ORACLE) for name, fn in fns.items()}
    w = Workload("t", "", True, tuple((name, "etl") for name in fns))
    return harness.Runner(spark, specs, str(d), w, 0, trace,
                          evict=lambda *a, **k: None)


def _checker(d):
    return OracleChecker(str(d), ["t"], str(d / "cache"), str(d))


def test_raising_and_wrong_result_ops_count_as_failures(spark, table_dir):
    r = _runner(spark, table_dir,
                {"good": good, "wrong": wrong, "raising": raising}, False)
    checked, failed = harness.checked_pass(r, _checker(table_dir))
    assert len(checked.calls) == 3
    assert sorted(op for op, _ in failed) == ["raising", "wrong"]
    warmups, passes = harness.measure(r, 0.01)
    assert len(warmups) == harness.WARMUP_PASSES
    assert len(passes) == harness.MEASURED_PASSES
    errs = harness.errors(warmups + passes)
    assert [op for op, _ in errs] == ["raising"] * (len(warmups) + len(passes))
    attempted = 3 * (1 + len(warmups) + len(passes))
    values = harness.end_to_end(1.0, passes, attempted,
                                len(failed) + len(errs), 1.0)
    assert values["ok_op_ratio"] == pytest.approx(
        1 - (2 + len(errs)) / attempted)


def test_oracle_cache_round_trip(table_dir):
    first = _checker(table_dir).expected(ORACLE)
    assert os.listdir(table_dir / "cache")
    assert _checker(table_dir).expected(ORACLE) == first


def test_pool_thread_jobs_are_attributed_to_build(spark, table_dir):
    r = _runner(spark, table_dir, {"pooled": pooled}, True)
    p, _ = r.run_pass(harness.noop_write)
    (c,) = p.calls
    assert not c.error
    assert c.stats["build"].jobs == 2
    assert c.stats["action"].jobs >= 1
    # the self-check: jobs found by submission time == jobs attributed
    assert p.unattributed_jobs == 0
    lay = harness.layers(dict.fromkeys(harness.SETUP_LAYER, 0.0), [p], 2,
                         ["pooled"])
    assert lay["build.jobs"] == 2
    assert lay["build.executor_run_s"] >= 0
    assert lay["build.driver_s"] <= lay["build.wall_s"]
    assert lay["trace.pass_s"] == pytest.approx(
        lay["build.wall_s"] + lay["action.wall_s"] + lay["registry.evict_s"]
        + lay["trace.unaccounted_s"])


def test_self_check_flags_unattributed_jobs(spark, table_dir):
    r = _runner(spark, table_dir, {"pooled": pooled}, True)
    p, _ = r.run_pass(harness.noop_write)
    (c,) = p.calls
    first, _ = c.job_ids["build"]
    c.job_ids["build"] = (first, first)  # forget the build's two jobs
    r._read(p)
    assert p.unattributed_jobs == 2


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_benchmark_json_match_the_code():
    names = [n for n, _ in harness.END_TO_END]
    names += [n for n, _ in harness.per_layer(all_op_ids())]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and re.fullmatch(r"[A-Za-z0-9_.-]+", name)
    for _, unit in harness.END_TO_END + tuple(harness.per_layer(all_op_ids())):
        assert UNIT.fullmatch(unit)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        harness.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        harness.per_layer(all_op_ids()))
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [
        w.why for w in WORKLOADS.values()]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "history.jsonl"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_warm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout == ""
