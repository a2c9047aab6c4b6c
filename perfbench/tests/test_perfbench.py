"""Tests of the benchmark's own logic. They start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import operator
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from run import judge  # noqa: E402

SIZES = {"n_events": 700, "n_docs": 120, "n_emb": 60, "increments": 2,
         "increment_events": 90}


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, **SIZES)
    gen.generate(str(tmp_path / "b"), 7, **SIZES)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a == b
    assert len(a) == 6  # 3 base tables, 2 increments, the manifest


def test_generator_other_seed_same_shape(tmp_path):
    ma = gen.generate(str(tmp_path / "a"), 7, **SIZES)
    mb = gen.generate(str(tmp_path / "b"), 8, **SIZES)
    for t in ("events", "documents", "embeddings"):
        pa_ = pq.read_table(os.path.join(ma["base_dir"], f"{t}.parquet"))
        pb = pq.read_table(os.path.join(mb["base_dir"], f"{t}.parquet"))
        assert pa_.schema == pb.schema
        assert pa_.num_rows == pb.num_rows
        assert not pa_.equals(pb)
    assert ma["rows"] == mb["rows"] == {"events": 700, "documents": 120,
                                        "embeddings": 60}


def test_generator_shape(tmp_path):
    m = gen.generate(str(tmp_path / "a"), 3, **SIZES)
    ev = pq.read_table(os.path.join(m["base_dir"], "events.parquet"))
    users = ev.column("user_id").to_pylist()
    # Zipf skew: the busiest user owns far more than an even share
    top = max(users.count(u) for u in set(users))
    assert top > 3 * len(users) / len(set(users))
    inc = pq.read_table(os.path.join(m["inc_dirs"][0], "events.parquet"))
    # increments continue the ids and belong to new users
    assert min(inc.column("event_id").to_pylist()) == 700
    assert not set(inc.column("user_id").to_pylist()) & set(users)
    docs = pq.read_table(os.path.join(m["base_dir"], "documents.parquet"))
    texts = docs.column("text").to_pylist()
    assert len(texts) - len(set(texts)) == 120 // 20


@pytest.mark.parametrize("n,p", [(1, 50), (15, 50), (20, 50), (21, 52),
                                 (30, 66), (40, 75), (100, 90),
                                 (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if n > 20:
        # at least 10 samples lie beyond the percentile
        assert n * (100 - p) >= 10 * 100


def test_tail_value():
    xs = [float(i) for i in range(1, 41)]  # 40 samples -> p75
    value, p = stats.tail(xs)
    assert p == 75
    assert value == pytest.approx(30.25)
    assert stats.tail([5.0, 1.0, 3.0]) == (3.0, 50)


def test_median_is_statistics_median():
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_self_time_subtracts_covered_part():
    # children overlap each other and stick out of the parent
    assert stats.self_time(0, 10, [(1, 3), (2, 5), (9, 12)]) == 5
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(-1, 11)]) == 0
    assert stats.self_time(0, 10, [(11, 12)]) == 10


def test_fail_ratio():
    assert stats.fail_ratio(20, 1) == 0.05
    assert stats.fail_ratio(3, 0) == 0
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)


def _op(slot, rows, err=None):
    return {"slot": slot, "rows": rows, "err": err}


def test_judge_counts_each_kind_of_failure():
    ops = [_op("a", [1]), _op("a", [2]), _op("b", None, err="boom"),
           _op("c", [1]), _op("d", {"x": (1.0,)})]
    refs = {"a": [1], "b": [1], "c": None, "d": {"x": (1.0000005,)}}
    close = lambda x, y: abs(x["x"][0] - y["x"][0]) < 1e-6  # noqa: E731
    same = {"a": operator.eq, "b": operator.eq, "c": operator.eq,
            "d": close}
    # wrong rows, raised, no reference -> 3 of 5 fail
    assert judge(ops, refs, same, finish_ok=True) == 3
    assert [op["ok"] for op in ops] == [True, False, False, False, True]
    # a failed whole-window check fails every call
    assert judge(ops, refs, same, finish_ok=False) == 5


def test_event_log_attribution(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 9000, "Stage IDs": [3]},
    ]
    for stage, cpu_ns in ((0, 1e9), (1, 2e9), (2, 3e9), (3, 4e9)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": 1500, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 10, "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}})
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = tracing.read_event_log(str(log))
    got = tracing.attribute(jobs, stages, [("a", 0.5, 2.0), ("b", 4, 6)])
    assert got["a"]["jobs"] == 1 and got["a"]["tasks"] == 2
    assert got["a"]["cpu_s"] == pytest.approx(3.0)
    # stage 1 is shared with job 0 and counted there only
    assert got["b"]["tasks"] == 1 and got["b"]["cpu_s"] == pytest.approx(3)
    assert got["other"]["jobs"] == 1
    assert got["other"]["shuffle_write_b"] == 100


def test_tracer_parents_and_write(tmp_path):
    t = tracing.Tracer("r1")
    with t.span("round") as r:
        with t.span("call"):
            pass
    assert t.children(r["id"])[0]["name"] == "call"
    path = tmp_path / "spans.jsonl"
    t.write(str(path))
    spans = [json.loads(line) for line in path.read_text().splitlines()]
    assert [s["parent"] for s in spans] == [None, 0]
    assert all(s["run_id"] == "r1" and s["end"] >= s["start"]
               for s in spans)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert r.returncode != 0
    assert r.stdout == ""


def test_per_layer_of_a_traced_build(tmp_path):
    """Stage windows, blocking path, unattributed time and the Spark
    counters of one logged build; every per-layer name reported."""
    import layers

    log = tmp_path / "app"
    events = [
        # head group (alias_dict || transcripts), then edges, then a job
        # outside every stage window
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 100_500, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 107_000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 109_500, "Stage IDs": [2]},
    ]
    for stage, n in ((0, 4), (1, 2), (2, 1)):
        events += [{"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                    "Task Metrics": {"Executor Run Time": 1000,
                                     "Executor CPU Time": 5e8}}] * n
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    extra = {"stage_windows": {"alias_dict": (100.0, 103.0),
                               "transcripts": (100.0, 104.0),
                               "edges": (106.0, 108.0),
                               "vertices": (106.0, 107.0)},
             "equivalence_rows": 120, "cc_rounds": 0, "files": 10,
             "bytes": 2**20}
    tracer = tracing.Tracer("r")
    ops = [
        {"slot": "build.pipeline.run_pipeline", "start": 100.0,
         "end": 110.0, "dt": 10.0, "traced": True, "extra": extra},
        {"slot": "build.pipeline.run_pipeline", "start": 120.0,
         "end": 126.0, "dt": 6.0, "traced": False, "extra": None},
    ]
    out = layers.per_layer({"ops": ops, "tracer": tracer, "session_s": 3.0},
                           str(log), cores=4)
    assert set(out) == set(layers.metric_units())
    assert out["build.corpus.transcripts_s"] == 4.0
    assert out["build.pipeline.stage_sum_s"] == 4.0 + 2.0
    # wall 10 s, stage windows cover [100, 104] and [106, 108]
    assert out["build.pipeline.unattributed_s"] == 4.0
    assert out["build.spark.jobs.head"] == 1
    assert out["build.spark.tasks.head"] == 4
    assert out["build.spark.tasks.tail"] == 2
    assert out["build.spark.jobs.other"] == 1
    assert out["spark.tasks"] == 7
    assert out["spark.cpu_busy_frac"] == pytest.approx(3.5 / (10 * 4))
    assert out["trace_overhead_frac"] == pytest.approx(10 / 6 - 1)
    assert out["build.warehouse.bytes_written_mb"] == 1.0
    assert out["textops.dedup.minhash_pairs_s"] == 0.0
