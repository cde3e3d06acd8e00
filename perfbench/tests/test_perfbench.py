"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from perfbench import gen, run
from perfbench.harness import Span, Tracer, read_event_log, self_times, tail

ROOT = Path(__file__).resolve().parents[2]


def _digest(d: Path) -> dict[str, str]:
    return {
        str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(d.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, _ = gen.ensure_inputs(tmp_path / "a", workload, 7)
    b, _ = gen.ensure_inputs(tmp_path / "b", workload, 7)
    c, _ = gen.ensure_inputs(tmp_path / "c", workload, 8)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da if k != "DONE")


def test_inputs_are_cached_per_seed_and_other_seeds_removed(tmp_path):
    d, made = gen.ensure_inputs(tmp_path, "corpus_curation", 1)
    assert made
    assert gen.ensure_inputs(tmp_path, "corpus_curation", 1) == (d, False)
    gen.ensure_inputs(tmp_path, "corpus_curation", 2)
    assert not d.exists()


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, pct, n = tail(values)
    assert (v, pct, n) == (90.0, 90, 100)
    assert sum(x > v for x in values) == 10
    v, pct, n = tail([float(i) for i in range(20)])
    assert (v, pct, n) == (9.0, 50, 20)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)  # too few samples: the maximum


@pytest.mark.parametrize("n", [11, 17, 50, 333])
def test_tail_rule_for_any_count(n):
    values = [float((i * 7919) % n) for i in range(n)]
    v, pct, _ = tail(values)
    assert sum(x > v for x in values) >= 10
    assert sorted(values).index(v) == n - 11


def test_self_time_subtracts_child_coverage():
    spans = [
        Span("plans", "root", 0.0, 10.0),
        Span("plans", "a", 1.0, 3.0, parent=0),
        Span("functions", "b", 2.5, 6.0, parent=0),  # overlaps a by 0.5
        Span("functions", "c", 4.0, 5.0, parent=2),
        Span("session", "other", 20.0, 21.0),
    ]
    assert self_times(spans) == pytest.approx([10 - 5.0, 2.0, 3.5 - 1.0, 1.0, 1.0])


def test_layer_totals_charge_jobs_to_the_span_that_launched_them():
    class FakeSc:
        def __init__(self):
            self.props = {}

        def setJobGroup(self, g, d):
            self.props["spark.jobGroup.id"] = g

        def setLocalProperty(self, k, v):
            self.props[k] = v

    sc = FakeSc()
    tr = Tracer(sc)
    with tr.span("sources.sinks", "write", rows_in=5):
        assert sc.props["spark.jobGroup.id"] == "span-0"
        with tr.span("streaming", "drain"):
            tr.alias_current("run-id-1")
        assert sc.props["spark.jobGroup.id"] == "span-0"
    assert sc.props["spark.jobGroup.id"] is None
    metrics = {
        "span-0": dict.fromkeys(("tasks", "wait_s", "executor_cpu_s", "gc_s",
                                 "shuffle_write_bytes", "spill_bytes"), 1.0),
        "run-id-1": dict.fromkeys(("tasks", "wait_s", "executor_cpu_s", "gc_s",
                                   "shuffle_write_bytes", "spill_bytes"), 2.0),
    }
    totals = tr.layer_totals(metrics)
    assert totals["sources.sinks"]["tasks"] == 1.0
    assert totals["streaming"]["tasks"] == 2.0
    assert totals["sources.sinks"]["rows_in"] == 5


def test_event_log_parsing(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0, "Submission Time": 1000},
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1500, "Attempt": 0, "Failed": False},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1000, "Attempt": 1, "Failed": False},
         "Task Metrics": {}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    metrics, jobs, retries = read_event_log(log)
    m = metrics["g"]
    assert jobs == {"g": 1} and retries == 1
    assert m["tasks"] == 2 and m["wait_s"] == pytest.approx(0.5)
    assert m["executor_cpu_s"] == pytest.approx(2.0) and m["gc_s"] == pytest.approx(0.1)
    assert m["spill_bytes"] == 11 and m["shuffle_write_bytes"] == 7


def test_printed_metrics_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(gen.GENERATORS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["bound"] == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_reference_phone_cleaning_examples():
    from perfbench.integrate_load import _ref_phone

    assert _ref_phone("555-123-4567") == "+1 555-123-4567"
    assert _ref_phone("(555)123-4567") == "+1 555-123-4567"
    assert _ref_phone("555.123.4567") == "+1 555-123-4567"
    assert _ref_phone("001-555-123-4567") == "+1 555-123-4567"
    assert _ref_phone("5551234567") == "+1 555-123-4567"
    assert _ref_phone("612345678") == "+33 6 12 34 56 78"
    assert _ref_phone("555-123-4567x12") == "+1 555-123-4567x12"
    assert _ref_phone("n/a") is None and _ref_phone(None) is None


def test_warmup_inputs(tmp_path):
    full, _ = gen.ensure_inputs(tmp_path, "integrate_load", 3)
    warm, _ = gen.ensure_inputs(tmp_path, "integrate_load", 3, warmup=True)
    assert warm != full and full.exists()
    small = sum(1 for _ in open(warm / "contacts.csv")) - 1
    assert small == gen.INTEGRATE_WARMUP["contacts"] < gen.INTEGRATE["contacts"]
    corpus, _ = gen.ensure_inputs(tmp_path, "corpus_curation", 3)
    assert gen.ensure_inputs(tmp_path, "corpus_curation", 3, warmup=True) == (corpus, False)


def test_corpus_has_the_measured_shape(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    shape = gen.CORPUS_SHAPE
    d, _ = gen.ensure_inputs(tmp_path, "corpus_curation", 5)
    docs = pq.read_table(d / "documents.parquet").to_pylist()
    marked = [r for r in docs if shape["dup_marker"] in r["text"].split(" ")]
    assert len(marked) == round(len(docs) * shape["near_dup_share"])
    lo, hi = shape["tokens"]
    plain = [len(r["text"].split(" ")) for r in docs if r not in marked]
    assert lo <= min(plain) and max(plain) <= hi
    words = {w for r in docs for w in r["text"].split(" ")}
    assert words <= {*shape["vocabulary"], shape["dup_marker"]}
    assert all(r["source"] == f"src{r['doc_id'] % shape['sources']}" for r in docs)
    emb = pq.read_table(d / "embeddings.parquet")
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    assert vecs.shape == (gen.CORPUS["embeddings"], shape["dim"])
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)


def test_stop_processes_ends_and_reaps_the_whole_tree():
    """A child still running after the grace period, and the grandchild it
    leaves orphaned, are both stopped and reaped before the call returns."""
    import subprocess
    import sys
    import time

    script = (
        "import os, subprocess, sys\n"
        "from perfbench.harness import become_subreaper, stop_processes, _descendants\n"
        "become_subreaper()\n"
        "child = 'import subprocess, time; subprocess.Popen([\"sleep\", \"60\"]); time.sleep(60)'\n"
        "subprocess.Popen([sys.executable, '-c', child], stdout=subprocess.DEVNULL)\n"
        "import time; time.sleep(1)\n"
        "print(len(_descendants(os.getpid())))\n"
        "stop_processes(grace_s=0.5)\n"
        "print(_descendants(os.getpid()))\n"
        "try:\n"
        "    os.waitpid(-1, os.WNOHANG)\n"
        "except ChildProcessError:\n"
        "    print('reaped')\n"
    )
    t0 = time.monotonic()
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["2", "[]", "reaped"]
    assert time.monotonic() - t0 < 30
