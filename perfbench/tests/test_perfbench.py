"""Tests of the benchmark's own machinery on tiny inputs; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from workloads import CATALOG_MIX, CatalogMix, frame_hash, text_fingerprint  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_star_generation_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / k) for k in "abc")
    rows = gen.write_star(a, np.random.default_rng(7), scale=0.1)
    gen.write_star(b, np.random.default_rng(7), scale=0.1)
    gen.write_star(c, np.random.default_rng(8), scale=0.1)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert rows["orders"] == 1500 and rows["region"] == 5
    assert rows["lineitem"] > rows["orders"]


def test_documents_and_batches_are_deterministic_per_seed():
    d1 = gen.documents(np.random.default_rng(3), 50)
    d2 = gen.documents(np.random.default_rng(3), 50)
    d3 = gen.documents(np.random.default_rng(4), 50)
    assert d1.equals(d2) and not d1.equals(d3)
    b1 = gen.ingest_batches(np.random.default_rng(3), 3, 20)
    b2 = gen.ingest_batches(np.random.default_rng(3), 3, 20)
    assert [b.table for b in b1] == [b.table for b in b2]
    assert [b.exact_resubmits for b in b1] == [b.exact_resubmits for b in b2]


def test_exact_resubmissions_copy_an_earlier_batch():
    batches = gen.ingest_batches(np.random.default_rng(5), 4, 40, resubmit_frac=0.3)
    assert not batches[0].exact_resubmits
    earlier: set[str] = set()
    for b in batches:
        texts = dict(zip(b.table["doc_id"].to_pylist(), b.table["text"].to_pylist()))
        for doc_id in b.exact_resubmits:
            assert texts[doc_id] in earlier
        earlier.update(texts.values())
    assert any(b.exact_resubmits for b in batches[1:])


def test_geo_inputs_are_deterministic_and_multipolygon():
    g1 = gen.geo_inputs(np.random.default_rng(11), n_cities=3, tiles_per_city=200)
    g2 = gen.geo_inputs(np.random.default_rng(11), n_cities=3, tiles_per_city=200)
    assert g1 == g2
    assert [len(c.parts) for c in g1.cities] == [1, 1, 2]
    for c in g1.cities:
        for ring in c.parts:
            assert ring[0] == ring[-1]


def test_points_in_ring_square_and_concave():
    square = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    px = np.array([0.5, 3.5, 4.5, -0.5, 2.0])
    py = np.array([0.5, 3.5, 2.0, 2.0, 2.0])
    assert gen.points_in_ring(px, py, square).tolist() == [True, True, False, False, True]
    notch = np.array([[0, 0], [4, 0], [4, 4], [2, 1], [0, 4], [0, 0]], dtype=float)
    assert gen.points_in_ring(np.array([2.0, 2.0]), np.array([3.0, 0.5]), notch).tolist() == [
        False,
        True,
    ]


def test_tile_projection_round_trips():
    lon, lat = np.array([-100.0, 12.5]), np.array([40.0, -33.0])
    x, y = gen.lonlat_to_tile(lon, lat, 19)
    lon2, lat2 = gen.tile_to_lonlat(x, y, 19)
    assert np.allclose(lon, lon2) and np.allclose(lat, lat2)


def test_tail_needs_ten_samples_beyond():
    assert measure.tail(list(range(10))) is None
    value, pct, beyond = measure.tail([float(x) for x in range(11)])
    assert (value, beyond) == (0.0, 10) and pct == pytest.approx(100 / 11)
    xs = [float(x) for x in range(100)]
    value, pct, beyond = measure.tail(list(reversed(xs)))
    assert value == 89.0 and pct == 90.0
    assert sum(1 for x in xs if x > value) == beyond


def test_span_self_time_subtracts_covered_children():
    t = measure.Tracer(enabled=True)
    t.spans = [
        measure.Span(0, "op", None, 0.0, 10.0),
        measure.Span(1, "a", 0, 1.0, 4.0),
        measure.Span(2, "b", 0, 3.0, 6.0),  # overlaps a: union 1..6
        measure.Span(3, "c", 1, 1.5, 2.0),  # grandchild: not subtracted from op
        measure.Span(4, "d", 0, 9.0, 12.0),  # runs past the parent's end
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 5.0 - 1.0)
    assert t.self_time(t.spans[1]) == pytest.approx(3.0 - 0.5)
    assert t.descendants(0) == {0, 1, 2, 3, 4}
    assert t.descendants(1) == {1, 3}


def test_wrapped_traces_the_module_composition_and_restores_it():
    import types

    mod = types.SimpleNamespace()
    mod.stage = lambda x: x + 1
    mod.run = lambda x: mod.stage(x) * 2  # calls through the module, as a package does
    original = mod.stage
    t = measure.Tracer(enabled=True)
    with t.wrapped(mod, {"stage": "pipeline.stage.build"}):
        assert mod.run(1) == 4
    assert mod.stage is original
    assert [s.name for s in t.spans] == ["pipeline.stage.build"]
    t.enabled = False
    with t.wrapped(mod, {"stage": "x"}):
        assert mod.stage is original


def test_catalog_mix_schedule():
    mix = CatalogMix.__new__(CatalogMix)
    steps = [mix.step(i) for i in range(1 + CatalogMix.timed_ops)]
    assert steps[0] == ("admit", 0)
    assert [a for k, a in steps[1:-2]] == CATALOG_MIX
    assert steps[-2:] == [("admit", 1), ("curate", 1)]


def test_layer_units():
    assert run.layer_unit("clustering.s") == "s"
    assert run.layer_unit("pipeline.cluster.build_s") == "s"
    assert run.layer_unit("pipeline.cluster.build_jobs") == "count"
    assert run.layer_unit("module_job_s.pipeline") == "s"
    assert run.layer_unit("streaming.batch_s.1") == "s"
    assert run.layer_unit("spark.shuffle_read_bytes") == "bytes"
    assert run.layer_unit("dedup.fp_files_probed_ratio") == "ratio"
    assert len(set(run.PER_LAYER)) == len(run.PER_LAYER)


def test_event_log_reader(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    scan = {
        "nodeName": "Scan parquet",
        "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/x/fp_store/gen-000001]"},
        "metrics": [{"name": "number of files read", "accumulatorId": 7},
                    {"name": "size of files read", "accumulatorId": 8}],
        "children": [],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "3", "perfbench.module": "operators.dedup"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8,
                          "Input Metrics": {"Bytes Read": 10}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 4, "time": 1000,
         "physicalPlanDescription": "InsertIntoHadoopFsRelationCommand file:/x/sig_store/gen-000001, false",
         "sparkPlanInfo": {"nodeName": "Execute", "children": [scan]}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 4, "accumUpdates": [[7, 3], [8, 900]]},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 4, "time": 1750},
    ]
    (tmp_path / "events_1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = measure.read_event_log(str(tmp_path))
    (job,) = log.jobs
    assert (job.group, job.module, job.tasks, job.duration) == ("3", "operators.dedup", 1, 1.5)
    assert (job.run_s, job.scan_run_s, job.input_bytes) == (0.5, 0.5, 10)
    (ex,) = log.executions
    assert ex.writes == ["file:/x/sig_store/gen-000001"] and ex.duration == 0.75
    assert log.scanned(ex, "/x/fp_store") == (3, 900)
    assert log.scanned(ex, "/x/sig_store") == (0, 0)


def test_disabled_tracer_records_nothing():
    t = measure.Tracer()
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []


def test_proc_readers():
    before = measure.vm_hwm_kb()
    block = bytearray(64 << 20)
    block[:: 4096] = b"x" * len(block[:: 4096])
    assert measure.vm_hwm_kb() >= before
    assert measure.vm_hwm_kb() - before > 32 << 10 or before > 64 << 10
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert measure.vm_hwm_kb(child.pid) > 0
        import time

        assert abs(measure.process_start_epoch(child.pid) - time.time()) < 5
        steal, total = measure.cpu_ticks()
        assert 0 <= steal <= total
    finally:
        child.kill()
        child.wait(timeout=10)


def test_text_fingerprint_normalizes_case_and_whitespace():
    assert text_fingerprint("The  Spark\n\nscan ") == text_fingerprint("the spark scan")
    assert text_fingerprint("a b") != text_fingerprint("a c")


def test_frame_hash_ignores_row_and_column_order_but_not_float_bits():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.2]})
    b = pd.DataFrame({"y": [0.2, 0.1], "x": [2, 1]})
    c = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.2 + 1e-16 * 3]})
    d = pd.DataFrame({"x": [1.0, 2.0], "y": [0.1, 0.2]})
    assert frame_hash(a) == frame_hash(b)
    assert frame_hash(a) != frame_hash(c)
    assert frame_hash(a) != frame_hash(d)


def test_run_refuses_without_the_package(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "catalog_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
