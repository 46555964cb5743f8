"""Checks of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import gen
import run
import status

HERE = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _fp(seed: int) -> dict:
    return gen.fingerprint([r[3] for r in gen.template_rows(150, seed)])


def test_generator_is_deterministic():
    a, b, c = _fp(5), _fp(5), _fp(6)
    assert a == b
    assert a != c
    assert a["turns"] == c["turns"] == 150
    assert a["whale_count"] == 0


def test_fingerprint_fields():
    fp = gen.fingerprint(["ab", "ab", "", None, "x" * gen.WHALE_BYTES])
    assert fp["turns"] == 5
    assert fp["bytes"] == 4 + gen.WHALE_BYTES
    assert fp["distinct_share"] == pytest.approx(4 / 5)
    assert fp["empty_share"] == pytest.approx(2 / 5)
    assert fp["whale_count"] == 1
    assert fp["largest_whale_bytes"] == gen.WHALE_BYTES


def test_ops_fingerprint_of_committed_tables():
    fp = gen.ops_fingerprint()
    assert fp == gen.ops_fingerprint()
    assert fp["tables"] == "sf0.001"
    assert fp["turns"] == fp["table_rows"]["documents"] == 500
    assert set(fp["table_rows"]) >= {"documents", "embeddings", "events",
                                     "lineitem", "orders"}


def test_cache_key_covers_every_parameter(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        os.makedirs(path)
        return {"turns": 1}

    p1, _ = gen._cached(str(tmp_path), {"kind": "k", "seed": 1}, build)
    p2, fp = gen._cached(str(tmp_path), {"kind": "k", "seed": 1}, build)
    p3, _ = gen._cached(str(tmp_path), {"kind": "k", "seed": 2}, build)
    assert p1 == p2 != p3
    assert len(calls) == 2
    assert fp["params"] == {"kind": "k", "seed": 1}


def test_metric_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    import bench

    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.E2E_UNITS
    assert declared_layer == run.layer_units(bench.OPS_QUERIES)
    names = [*declared_e2e, *declared_layer,
             *(w["name"] for w in spec["workloads"])]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n) and len(n) <= 64, n
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


CANNED_JOBS = [
    {"jobId": 7, "jobGroup": "rep-1", "status": "SUCCEEDED",
     "stageIds": [10, 11], "submissionTime": "2026-10-17T03:25:01.000GMT",
     "completionTime": "2026-10-17T03:25:03.500GMT"},
    {"jobId": 8, "jobGroup": "rep-1", "status": "SUCCEEDED",
     "stageIds": [12], "submissionTime": "2026-10-17T03:25:03.600GMT",
     "completionTime": "2026-10-17T03:25:04.000GMT"},
    {"jobId": 9, "jobGroup": "other", "status": "SUCCEEDED",
     "stageIds": [13]},
]
CANNED_STAGES = [
    {"stageId": 10, "status": "COMPLETE", "numCompleteTasks": 4,
     "executorRunTime": 1500, "executorCpuTime": 1_200_000_000,
     "jvmGcTime": 100, "shuffleWriteBytes": 2 << 20,
     "shuffleReadBytes": 0, "diskBytesSpilled": 0, "inputBytes": 8 << 20,
     "outputBytes": 0, "submissionTime": "2026-10-17T03:25:01.000GMT",
     "completionTime": "2026-10-17T03:25:02.000GMT"},
    {"stageId": 11, "status": "COMPLETE", "numCompleteTasks": 16,
     "executorRunTime": 4000, "executorCpuTime": 3_000_000_000,
     "jvmGcTime": 50, "shuffleWriteBytes": 0,
     "shuffleReadBytes": 2 << 20, "diskBytesSpilled": 1 << 20,
     "inputBytes": 0, "outputBytes": 3 << 20,
     "submissionTime": "2026-10-17T03:25:02.000GMT",
     "completionTime": "2026-10-17T03:25:03.250GMT"},
    {"stageId": 12, "status": "SKIPPED", "numCompleteTasks": 0},
    {"stageId": 13, "status": "COMPLETE", "numCompleteTasks": 99,
     "executorRunTime": 99_000},
]
CANNED_EXECUTIONS = [
    {"id": 3, "successJobIds": [7, 8], "failedJobIds": [], "nodes": [
        {"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "time to run Python workers",
             "value": "total (min, med, max (stageId: taskId))\n"
                      "15.5 s (251 ms, 420 ms, 2.9 s (stage 11.0: task 15))"},
            {"name": "time to initialize Python workers",
             "value": "total (min, med, max (stageId: taskId))\n"
                      "1.2 s (9 ms, 50 ms, 300 ms (stage 11.0: task 15))"},
            {"name": "data sent to Python workers",
             "value": "total (min, med, max (stageId: taskId))\n"
                      "2.0 MiB (4.1 KiB, 16.8 KiB, 30.3 KiB "
                      "(stage 11.0: task 19))"},
            {"name": "data returned from Python workers",
             "value": "total (min, med, max (stageId: taskId))\n"
                      "512.0 KiB (4.6 KiB, 25.1 KiB, 50.5 KiB "
                      "(stage 11.0: task 19))"},
            {"name": "number of output rows", "value": "1,000"}]},
        {"nodeName": "FlatMapGroupsInPandas", "metrics": [
            {"name": "time to run Python workers", "value": "500 ms"},
            {"name": "number of output rows", "value": "2"}]},
        {"nodeName": "Exchange", "metrics": [
            {"name": "time to run Python workers", "value": "9 s"}]}]},
    {"id": 4, "successJobIds": [9], "nodes": [
        {"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "time to run Python workers", "value": "1.0 h"}]}]},
]


def test_parse_metric_value():
    assert status.parse_metric_value("0 ms") == (0.0, "time")
    assert status.parse_metric_value("55") == (55.0, "count")
    assert status.parse_metric_value("1,024") == (1024.0, "count")
    v, kind = status.parse_metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "2.9 s (1 ms, 2 ms, 1.0 s (stage 1.0: task 2))")
    assert (v, kind) == (2.9, "time")
    assert status.parse_metric_value("1.5 KiB") == (1536.0, "size")
    assert status.parse_metric_value("2.0 min")[0] == 120.0


def test_stage_totals_on_canned_payload():
    jobs = status.jobs_in_groups(CANNED_JOBS, {"rep-1"})
    t = status.stage_totals(jobs, CANNED_STAGES)
    assert t["jobs"] == 2
    assert t["stages"] == 2          # the skipped stage is not counted
    assert t["tasks"] == 20
    assert t["executor_run_s"] == pytest.approx(5.5)
    assert t["executor_cpu_s"] == pytest.approx(4.2)
    assert t["gc_s"] == pytest.approx(0.15)
    assert t["shuffle_write_mb"] == pytest.approx(2.0)
    assert t["shuffle_read_mb"] == pytest.approx(2.0)
    assert t["spill_mb"] == pytest.approx(1.0)
    assert t["input_mb"] == pytest.approx(8.0)
    assert t["output_mb"] == pytest.approx(3.0)
    assert status.stage_wall_s(CANNED_STAGES, {11}) == pytest.approx(1.25)


def test_python_totals_on_canned_payload():
    py = status.python_totals(CANNED_EXECUTIONS, {7, 8})
    assert py["python_run_s"] == pytest.approx(16.0)   # Exchange ignored
    assert py["python_init_s"] == pytest.approx(1.2)
    assert py["sent_mb"] == pytest.approx(2.0)
    assert py["returned_mb"] == pytest.approx(0.5)
    assert py["rows"] == 1002
    assert py["stage_ids"] == {11}
    # an execution that ran none of the jobs contributes nothing
    assert status.python_totals(CANNED_EXECUTIONS, {1})["python_run_s"] == 0


def test_parse_time():
    a = status.parse_time("2026-10-17T03:25:01.000GMT")
    b = status.parse_time("2026-10-17T03:25:03.500GMT")
    assert b - a == pytest.approx(2.5)
    assert status.parse_time(None) is None


def test_boundary_overhead_arithmetic():
    # 16 s in the workers for 1,000 rows at 1.5 ms/row in-process
    assert status.boundary_overhead_s(16.0, 1000, 1.5) == pytest.approx(14.5)
    assert status.boundary_overhead_s(1.0, 1000, 1.5) == pytest.approx(-0.5)
    assert status.boundary_overhead_s(0.0, 0, 1.5) == 0.0


def test_span_coverage():
    assert status.span_coverage((0, 10), [(1, 3), (2, 5), (8, 12)]) == \
        pytest.approx(0.6)
    assert status.span_coverage((0, 10), []) == 0.0
    assert status.span_coverage((0, 10), [(-5, 20)]) == 1.0


def test_pipeline_failures():
    assert run.pipeline_failures(100, [(100, 0), (100, 0)], 0) == (200, 0)
    # one missing row, two fatal errors, one sampled mismatch
    assert run.pipeline_failures(100, [(99, 0), (100, 2)], 1) == (200, 4)
    # a surplus row fails as a missing one does
    assert run.pipeline_failures(10, [(11, 0)], 0) == (10, 1)
    assert run.pipeline_failures(10, [(0, 10)], 5) == (10, 10)


def test_ops_failures():
    passes = [{"a": 1, "b": 2}, {"a": 1, "b": 3}, {"a": None, "b": 2}]
    # b differs once from its first hash, a raises once
    assert run.ops_failures(passes) == (6, 2)
    assert run.ops_failures([{"a": 5}, {"a": 5}]) == (2, 0)
    # sweep queries run once: checked for raising, and a timed query's
    # sweep hash against its timed hash
    timed = [{"a": 5}, {"a": 5}]
    assert run.ops_failures(timed, {"a": 5, "x": 1, "y": 2}) == (5, 0)
    assert run.ops_failures(timed, {"a": 6, "x": None, "y": 2}) == (5, 2)


def test_abba_overhead():
    seq = [(False, 1.0), (True, 1.3), (True, 1.5), (False, 1.2),
           (False, 2.0), (True, 2.1), (True, 2.1), (False, 2.0)]
    # blocks give (2.8 - 2.2) / 2 = 0.3 and (4.2 - 4.0) / 2 = 0.1
    assert run.abba_overhead(seq) == pytest.approx(0.2)
    # a linear drift of +0.1 per repetition cancels out
    drift = [(t, 1.0 + 0.1 * i + (0.05 if t else 0.0))
             for i, t in enumerate([False, True, True, False])]
    assert run.abba_overhead(drift) == pytest.approx(0.05)
    # a trailing partial block is ignored
    assert run.abba_overhead(seq + [(False, 9.0)]) == pytest.approx(0.2)
    with pytest.raises(ValueError):
        run.abba_overhead([(False, 1.0), (False, 1.0), (True, 1.0),
                           (False, 1.0)])


def test_result_line_shape():
    line = json.loads(run.result_line(True, 4, 0, {"wall_s": 1.25},
                                      {"wall_s": "s"}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"wall_s": {"value": 1.25, "unit": "s"}}


def test_core_payloads_sample():
    texts = ["b", "a", "b", None, "c"]
    sample = run.core_payloads(texts)
    assert sorted(sample) == ["a", "b", "c"]
    assert sample == run.core_payloads(list(reversed(texts)))
