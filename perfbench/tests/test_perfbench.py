"""Smoke tests for the benchmark itself (tiny inputs, one shared session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pytest

from perfbench import expected, gen, harness, workloads

ROOT = harness.ROOT


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench-session"))
    harness.prepare_env(work)
    s = harness.start_spark(work, 2)
    yield s
    harness.stop_spark(s)


def _run(spark, tmp_path, seed=5, trace=False):
    return workloads.Run(spark, str(tmp_path), seed, 0.0, trace, time.perf_counter())


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_pages_at_base_seed_are_synth_pages(spark, tmp_path):
    from s2geo_spark.sources import pages as pages_src

    path = str(tmp_path / "pages")
    gen.write_pages(path, gen.BASE_SEED, 3000, files=2)
    ours = spark.read.parquet(path)
    theirs = pages_src.synth_pages(spark, 3000)
    assert ours.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(ours).count() == 0


def test_other_seeds_shift_the_row_ids():
    a = gen.pages_table(np.arange(gen.row_offset(1, 100), gen.row_offset(1, 100) + 100))
    b = gen.pages_table(np.arange(100))
    assert set(a.column("url").to_pylist()).isdisjoint(b.column("url").to_pylist())


def test_flagship_tiny_traced(spark, tmp_path):
    inputs = workloads.flagship_inputs(str(tmp_path), 5, n_pages=20_000, files=4)
    run = _run(spark, tmp_path, trace=True)
    report = workloads.flagship(run, inputs)
    assert run.failed == 0, run.failures
    # warm-ups + the minimum timed passes + manifest rows + resume
    assert run.attempted == workloads.FLAGSHIP_WARMUPS + workloads.FLAGSHIP_MIN_PASSES + 2
    assert all(v > 0 for v in report["end_to_end"].values())
    assert run.layer["spatial.candidates"] >= inputs["want"]
    assert run.layer["manifest.jobs_per_bucket"] > 0
    assert run.layer["kernel.encode_ns"] > 0


def test_query_mix_tiny_and_record_shape(spark, tmp_path):
    names = ["s2_cap_join", "s2_stream_tiles"]
    inputs = workloads.query_mix_inputs(str(tmp_path), 5, scale=0.1)
    want = expected.oracle_checksums(inputs["sf_dir"], names)
    run = _run(spark, tmp_path, trace=True)
    report = workloads.query_mix(run, inputs, names=names, want=want)
    assert run.failed == 0, run.failures
    assert run.layer["contract.jobs"] > 0
    assert run.layer["streaming.batches"] >= 1

    line = workloads.result_line(run, report)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(workloads.PER_LAYER)
    run.trace = False
    line = workloads.result_line(run, report)
    assert set(line["metrics"]) == set(workloads.END_TO_END)
    assert all(set(m) == {"value", "unit"} for m in line["metrics"].values())
    assert all(isinstance(m["value"], float) for m in line["metrics"].values())


def test_wrong_checksum_counts_as_failure(spark, tmp_path):
    names = ["s2_cap_join", "s2_knn"]
    inputs = workloads.query_mix_inputs(str(tmp_path), 5, scale=0.1)
    want = expected.oracle_checksums(inputs["sf_dir"], names)
    want["s2_knn"] = dict(want["s2_knn"], sha256="0" * 64)
    run = _run(spark, tmp_path)
    report = workloads.query_mix(run, inputs, names=names, want=want)
    # every s2_knn operation (warm-up and timed) fails; nothing aborts
    assert run.failed == run.attempted // 2 > 0
    assert report["samples"]["query_geomean_s"] == {"s2_cap_join": 1}
    line = workloads.result_line(run, report)
    assert line["correct"] is False and line["failed"] == run.failed
