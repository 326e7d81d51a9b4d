"""The benchmark's own test, at a tiny input size.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

It checks that each workload runs and passes its output checks, that every
metric BENCHMARK.json names is printed with its unit, and that the status
store collector attributes shuffle bytes and job time correctly.
"""

from __future__ import annotations

import json
import os
import sys
import time
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    session = run.start_session(work, run.configure_env(work))
    yield session
    run.stop_session(session)


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


TINY = {
    "kg_build": {"n_docs": 40},
    "near_dup_batch": {"n_docs": 300, "batches": 2},
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_workload_runs_and_prints_every_metric(spark, spec, tmp_path, monkeypatch, workload, trace):
    monkeypatch.setattr(run, "SIZES", TINY)
    ns = SimpleNamespace(workload=workload, seed=5, seconds=0.0, trace=trace)
    result = run.measure(ns, spark, str(tmp_path), 1.0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float | int) for v in result["metrics"].values())
    if trace:
        ran = {
            "kg_build": ["MEDLINE_XML_TO_TEXT", "OGER", "SENTENCE_COOCCURRENCE_EXPORT"],
            "near_dup_batch": ["NEAR_DUP_KEEP_BEST", "NEAR_DUP_INDEX_UPDATE",
                               "NEAR_DUP_INDEX_RECONCILE", "NEAR_DUP_INDEX_KEEP_BEST"],
        }[workload]
        for key in ran:
            assert result["metrics"][f"{key}.jobs"]["value"] > 0, key
            assert result["metrics"][f"{key}.wall_s"]["value"] > 0, key
    else:
        assert result["metrics"]["ok_frac"]["value"] == 1.0
        assert result["metrics"]["docs_per_s"]["value"] > 0


def test_benchmark_spec_matches_the_runner(spec):
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert {w["name"] for w in spec["workloads"]} == set(run.SIZES)
    assert {m["name"] for m in spec["per_layer"]} == set(run.per_layer_units())


def test_collector_counts_shuffle_bytes(spark):
    import layers

    tracer = layers.Tracer(spark)
    df = spark.range(20_000).selectExpr("id", "id % 13 AS k")
    plain = tracer.run("select", lambda: df.select("id").collect())
    grouped = tracer.run("groupBy", lambda: df.groupBy("k").count().collect())
    assert plain.jobs >= 1 and plain.shuffle_write_mb == 0
    assert grouped.jobs >= 1 and grouped.shuffle_write_mb > 0


def test_driver_time_plus_job_time_is_wall(spark):
    import layers

    tracer = layers.Tracer(spark)

    def driver_then_job():
        time.sleep(0.3)  # driver-only time
        spark.range(50_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    rec = tracer.run("stage", driver_then_job)
    assert rec.driver_s + rec.covered_s == pytest.approx(rec.wall_s, abs=1e-9)
    assert rec.driver_s >= 0.3 and 0 < rec.covered_s < rec.wall_s


def test_covered_seconds_unions_and_clips():
    import layers

    assert layers.covered_seconds([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert layers.covered_seconds([(-5, 1), (9, 20)], 0, 10) == 2
    assert layers.covered_seconds([], 0, 10) == 0
