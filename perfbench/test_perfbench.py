"""The benchmark's own tests: the corpus generator is deterministic per
seed, and each oracle rejects a deliberately corrupted output.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import corpus  # noqa: E402
import eventlog  # noqa: E402
import oracles  # noqa: E402

SMALL = corpus.Knobs(docs=600, sites=40)


@pytest.fixture(scope="module")
def small():
    return corpus.generate(5, SMALL)


def test_generator_is_deterministic_per_seed(small):
    again = corpus.generate(5, SMALL)
    assert small.table.equals(again.table)
    for field in ("tokens", "offsets", "lang_code", "site_code"):
        assert np.array_equal(getattr(small, field), getattr(again, field))
    other = corpus.generate(6, SMALL)
    assert not small.table.equals(other.table)


def test_generator_text_matches_its_token_record(small):
    texts = small.table.column("text").to_pylist()
    words = {}
    for i in (0, 1, len(texts) - 1):
        toks = texts[i].split(" ")
        assert len(toks) == len(small.doc_tokens(i))
        for w, t in zip(toks, small.doc_tokens(i)):
            assert words.setdefault(int(t), w) == w
    lens = np.diff(small.offsets)
    assert lens.min() >= corpus.MIN_LEN and lens.max() <= corpus.MAX_LEN


def test_generator_plants_exact_copies(small):
    texts = small.table.column("text").to_pylist()
    n_copies = len(texts) - len(set(texts))
    assert n_copies >= round(SMALL.docs * SMALL.dup_rate)


def test_written_corpus_records_its_knobs(small, tmp_path):
    import json

    import pyarrow.parquet as pq

    path = small.write(str(tmp_path))
    assert pq.read_table(path).equals(small.table)
    meta = json.loads((tmp_path / "corpus.json").read_text())
    assert meta == {"seed": 5, "knobs": corpus.settings(SMALL)}
    assert meta["knobs"]["vocab"] == corpus.VOCAB and meta["knobs"]["docs"] == 600


# -- sketch_build ------------------------------------------------------------

def _lang_sketches(c, p=12):
    from dashing_spark.functions import hashing
    from dashing_spark.functions.hll import HLL

    th, lens = hashing.hash_tokens_arrow(c.table.column("text"))
    lang_of_tok = np.repeat(c.lang_code, lens)
    return {
        c.lang_names[k]: HLL(p).update_hashes(th[lang_of_tok == k]).to_bytes()
        for k in np.unique(c.lang_code)
    }


def test_sketch_oracle_accepts_exact_build_and_rejects_flipped_register(small):
    exact_all = oracles.exact_distinct_per_key(small, small.lang_code, corpus.LANGS)
    blobs = _lang_sketches(small)
    exact = {k: int(exact_all[small.lang_names.index(k)]) for k in blobs}
    rows = list(blobs.items())
    assert oracles.check_sketch_build(rows, exact, 12, reference=dict(rows)) == []

    key, blob = rows[0]
    flipped = bytearray(blob)
    flipped[6 + 17] ^= 0x01  # one register of the payload
    bad = [(key, bytes(flipped))] + rows[1:]
    assert oracles.check_sketch_build(bad, exact, 12, reference=dict(rows))


def test_sketch_oracle_rejects_estimate_off_the_exact_count(small):
    exact_all = oracles.exact_distinct_per_key(small, small.lang_code, corpus.LANGS)
    blobs = _lang_sketches(small)
    exact = {k: int(exact_all[small.lang_names.index(k)]) for k in blobs}
    keys = sorted(blobs, key=lambda k: exact[k])
    swapped = dict(blobs)
    swapped[keys[0]], swapped[keys[-1]] = blobs[keys[-1]], blobs[keys[0]]
    assert oracles.check_sketch_build(list(swapped.items()), exact, 12)
    assert oracles.check_sketch_build(list(blobs.items())[1:], exact, 12)


# -- distance_panel ----------------------------------------------------------

def test_distance_oracle_rejects_wrong_count_and_perturbed_value(small):
    from dashing_spark.functions.compare import compare
    from dashing_spark.functions.serde import sketch_from_bytes

    blobs = _lang_sketches(small)
    a, b = sorted(blobs)[:2]
    sa, sb = sketch_from_bytes(blobs[a]), sketch_from_bytes(blobs[b])
    ms = ["ji", "mash_dist", "containment"]
    row = {"a": a, "b": b, **{m: compare(sa, sb, m, estimator="ertl_improved") for m in ms}}
    n = len(blobs)
    good = n * (n - 1) // 2
    assert oracles.check_distance_panel(n, good, [row], blobs, ms) == []
    assert oracles.check_distance_panel(n, good - 1, [row], blobs, ms)
    assert oracles.check_distance_panel(n, good, [dict(row, ji=row["ji"] * 1.001)], blobs, ms)
    assert oracles.check_distance_panel(n, good, [dict(row, a=b, b=a)], blobs, ms)


# -- event log ---------------------------------------------------------------

def _task(stage, run_ms, sw_bytes=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_bytes,
                                                   "Shuffle Records Written": 1}},
        "Task Info": {"Accumulables": [{"ID": i, "Update": str(v)} for i, v in accums]},
    }


def test_eventlog_summary_splits_work_by_job_group():
    py_node = {"nodeName": "MapInArrow", "children": [], "metrics": [
        {"name": eventlog.PY_SENT, "accumulatorId": 1},
        {"name": eventlog.PY_RUN, "accumulatorId": 2},
        {"name": eventlog.PY_ROWS, "accumulatorId": 3}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1, 2],
         "Properties": {"spark.jobGroup.id": "op0", "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "check"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "jobGroupId": "op0", "sparkPlanInfo": py_node},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400,
            "RDD Info": [{"Scope": '{"id":"3","name":"MapInArrow"}'}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1600, "Completion Time": 1800}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Submission Time": 1600, "Completion Time": 1800}},
        _task(0, 300, sw_bytes=50, accums=[(1, 1000), (2, 250), (3, 4)]),
        _task(0, 100, sw_bytes=50, accums=[(1, 500), (2, 50), (3, 4)]),
        _task(1, 200),
        _task(3, 999),
    ]
    out = eventlog.summarize(events, {"op0": (900, 2000)})["op0"]
    assert out["jobs"] == 1 and out["stages"] == 2 and out["tasks"] == 3
    assert out["task_run_s"] == pytest.approx(0.6)
    assert out["shuffle_write_bytes"] == 100
    assert out["python_bytes_sent"] == 1500
    assert out["python_run_s"] == pytest.approx(0.3)
    assert out["partial_rows"] == 8
    assert out["partial_stage_task_s"] == pytest.approx(0.4)
    # 1100 ms window, stages cover 400 + 200 ms
    assert out["driver_gap_s"] == pytest.approx(0.5)


# -- host ----------------------------------------------------------------------

def test_end_processes_stops_descendants_and_waits():
    import subprocess

    import host

    child = subprocess.Popen(["sleep", "60"])
    try:
        procs = [p for p in host.descendants(os.getpid()) if p[0] == child.pid]
        assert len(procs) == 1
        host.end_processes(procs, grace_s=5)
        assert child.poll() is not None  # ended (and reaped)
        assert child.pid not in [p for p, _ in host.descendants(os.getpid())]
    finally:
        child.kill()
        child.wait()
